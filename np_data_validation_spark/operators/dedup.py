"""Deduplication operators for training-data pipelines.

Five families, all shuffle-conscious:

* exact          — content-fingerprint pre-pass in ``dedup_corpus`` (the
                   reference's dedup-on-insert doctrine "hash + size
                   identify data regardless of path", data_validation.py:5,
                   :728-734, applied to documents)
* MinHash + LSH  — shingle -> K minhashes -> banded signatures -> bucket
                   self-join -> candidate pairs (optionally Jaccard-verified)
* SimHash        — 32-bit sign-sum fingerprint (row-local, no shuffle)
* n-gram Jaccard — exact similarity on candidate pairs (the verify pass)
* embedding cosine near-dup — see operators/similarity.py

Scale shape: signatures/fingerprints are per-row array expressions (no
explode until the bucket join, and the exploded row count is docs x bands,
not docs x shingles). The self-join shuffles on (band, hash) — hot buckets
(boilerplate-heavy corpora) are capped with ``max_bucket`` before the join,
the standard guard against quadratic bucket blowup.

Everything except the bucket-join internals is expressible in ANSI SQL; the
builders at the bottom generate the DuckDB twin queries so the driver can
value-check candidates end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from np_data_validation_spark.functions.text import (
    doc_fingerprint,
    doc_fingerprint_sql,
    filter_funnel,
    filter_funnel_sql,
    hash_sample_predicate,
    hash_sample_predicate_sql,
    normalize_text,
    normalize_text_sql,
    portable_hash60,
    portable_hash60_sql,
    word_ngrams,
    word_ngrams_sql,
)

SHINGLE_N = 5
MINHASH_K = 8
MINHASH_BANDS = 4  # 4 bands x 2 rows

#: Universal-hash MinHash family (r8): mh_i = min over shingles of
#: (A[i] * h + B[i]) % P with h = portable_hash60(shingle) % P. ONE
#: md5-grade hash per shingle instead of K salted ones — the salted
#: family re-evaluated the expensive hash K times per shingle inside
#: interpreted HOF lambdas (measured 7.7 s of a 39 s dedup_corpus at
#: sf0.1). Bounds: h < P < 2^30 and A[i] < 2^20, so A[i]*h + B[i] < 2^51
#: — no 64-bit overflow in Spark ANSI mode or DuckDB. The constants are
#: part of the cross-engine contract (shared by minhash_sql).
MINHASH_P = 1_000_000_007
MINHASH_A = [104729, 104743, 104759, 104761, 104773, 104779, 104789, 104801]
MINHASH_B = [7919, 17389, 27449, 37813, 48611, 59359, 70001, 80677]
SIMHASH_BITS = 32


def ensure_cpu_splits(df: DataFrame) -> DataFrame:
    """Exchange a DataFrame that arrives as fewer partitions than the
    session's default parallelism.

    The shingle/fingerprint expressions in this module are higher-order
    functions, and Catalyst does not codegen lambda bodies — they evaluate
    interpreted at ~20us per element, i.e. CPU-bound. A corpus scanned
    from a handful of small files would run that work on a handful of
    cores; one exchange of the raw rows fixes the undersplit. At
    production split counts (any corpus big enough to matter yields far
    more input splits than cores) this is a no-op and the corpus is never
    shuffled."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_expr() -> Column:
    """Distinct character ``SHINGLE_N``-gram shingles of the normalized
    ``text`` column."""
    t = normalize_text("text")
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (SHINGLE_N - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(t, i, F.lit(SHINGLE_N)))
    )


def shingle_hashes() -> Column:
    """The shingle set as 60-bit hashes (primitive long array): the form
    every set operation downstream (Jaccard intersect/union) should take
    — string arrays measured ~70x slower per pair. Twin:
    shingle_hashes_sql."""
    return F.transform(shingle_expr(), lambda s: portable_hash60(s))


def shingle_hash_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<long>, n_sh) — the hashed shingle set, computed
    ONCE. The shingle construction (normalize -> substring transform ->
    array_distinct -> per-shingle md5 hash) is the most expensive
    interpreted-HOF expression in the dedup family and both the MinHash
    fingerprint and the Jaccard verify consume exactly this set; callers
    composing the two (dedup_corpus) checkpoint this table and pass it to
    both via their ``shingles=`` parameter instead of paying the
    construction per stage."""
    return (
        ensure_cpu_splits(docs)
        .select(F.col("doc_id"), shingle_hashes().alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


def minhash_signature(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, mh_0..mh_{MINHASH_K-1}) via the universal-hash family
    mh_i = min over shingles of (A[i] * h(shingle) + B[i]) % P.

    Execution shape (r9 rewrite — guide §2.4, remove shuffles outright):
    fully ROW-LOCAL. The hashed shingle array (one md5-grade hash per
    shingle — the r8 fix keeping the expensive hash single-eval) is
    materialized as a *generated attribute* behind an ``explode(array())``
    Generate barrier, so Catalyst's projection collapse cannot re-inline
    the shingle construction into each of the K signature columns; the K
    minhashes are then K ``array_min(transform(...))`` passes of pure
    long arithmetic over that attribute. The r8 form got the same
    single-eval guarantee from an explode + ONE map-side-combined groupBy
    — correct at any scale, but it paid a docs-wide Exchange(doc_id) (and
    a docs x shingles row explosion feeding the partial aggregate) for
    what is inherently per-row work. Zero shuffle now; values are
    identical (min over the same multiset; empty/null shingle arrays give
    NULL in both forms — array_min([]) and min-over-no-rows are both
    NULL).

    ``shingles``: a precomputed shingle_hash_table (already an attribute,
    no barrier needed) — callers composing MinHash with the Jaccard
    verify (dedup_corpus) pass it so the construction is paid once per
    pipeline."""
    if shingles is not None:
        base = shingles
    else:
        # Generate barrier: sh becomes an attribute evaluated exactly once
        # per row (same device as jaccard_pairs' explode barrier).
        base = ensure_cpu_splits(docs).select(
            "doc_id",
            F.explode(F.array(shingle_hashes())).alias("sh"),
        )
    mh = [
        F.array_min(
            F.transform(
                F.col("sh"),
                lambda h: (F.lit(MINHASH_A[i]) * (h % MINHASH_P) + F.lit(MINHASH_B[i]))
                % MINHASH_P,
            )
        ).alias(f"mh_{i}")
        for i in range(MINHASH_K)
    ]
    return base.select("doc_id", *mh)


def minhash_bands(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, band_hash) — long form, one row per doc x band.
    The band-struct array is evaluated ONCE per row by the explode's
    Generate node, so each signature column's arithmetic runs exactly
    once even after projection collapse inlines it (the expensive shingle
    construction below it sits behind its own Generate barrier — see
    minhash_signature)."""
    r = MINHASH_K // MINHASH_BANDS
    sig = minhash_signature(docs, shingles)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                portable_hash60(
                    F.concat_ws(",", *[F.col(f"mh_{b * r + j}").cast("string") for j in range(r)])
                ).alias("band_hash"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def _bucket_pairs(
    long_df: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    checkpoint: bool = True,
) -> DataFrame:
    """Self-join rows sharing a bucket -> ordered candidate pairs.

    The bucket rows are eagerly materialized first: the self-join (and
    the hot-bucket count when capped) reference ``long_df`` two or three
    times, and without the checkpoint each reference re-derives the whole
    upstream fingerprint pipeline (measured: candidate generation cost
    2x the bands cost at sf0.1). Bucket rows are slim — (doc_id, keys) x
    bands per doc. ``checkpoint=False`` skips the barrier when the bucket
    rows are already a CHEAP derivation (r9: row-local band arithmetic
    over an upstream checkpointed shingle table) — re-deriving per
    reference then costs a memory scan + long arithmetic, less than the
    extra eager job + materialization."""
    if checkpoint:
        long_df = long_df.localCheckpoint(eager=True)
    if max_bucket:
        counts = long_df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
        long_df = long_df.join(
            counts.filter(F.col("_n") <= max_bucket).drop("_n"), keys, "left_semi"
        )
    a = long_df.select(*keys, F.col("doc_id").alias("doc_a"))
    b = long_df.select(*keys, F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    max_bucket: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on >=1 full band.

    Precondition: a non-``None`` ``shingles`` table must already be
    checkpointed, e.g. ``shingle_hash_table(...).localCheckpoint(eager=True)``
    as ``dedup_corpus`` does. With it the band rows skip their own
    checkpoint, so every band reference re-derives from ``shingles`` — an
    un-checkpointed plan there re-runs the whole shingling per reference."""
    return _bucket_pairs(
        minhash_bands(docs, shingles),
        ["band", "band_hash"],
        max_bucket,
        # with a precomputed shingle table the band rows are row-local
        # arithmetic over an already-checkpointed attribute — rederive,
        # don't re-materialize
        checkpoint=shingles is None,
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (the verify pass of the
    two-pass cheap-filter-then-expensive-check pattern, reference J7,
    /root/reference/data_validation.py:1256-1266).

    The shingle table is eagerly materialized: it is joined once per pair
    SIDE, and without the checkpoint each side re-runs the interpreted
    shingle construction over the full corpus. Shingles are carried as
    their 60-bit HASHES, not strings — array_intersect/array_union over
    a primitive long array measured ~3x cheaper per pair than over the
    5-char string arrays (the verify stage on 1.3M uncapped candidate
    pairs at sf0.1: 30.5 s -> ~10 s; the expression is evaluated twice,
    once in the pushed join condition and once in the output projection).
    The Jaccard value is identical unless two shingles of one doc pair
    collide in 60 bits (~1e-14 per pair; and the DuckDB twin hashes with
    the SAME function, so even a collision cannot diverge the engines).
    The remaining per-pair cost is inherent set arithmetic — the scale
    lever is ``max_bucket`` capping the candidate count, not this
    kernel.

    ``shingles``: a precomputed (already materialized) shingle_hash_table
    — callers that also ran MinHash over the same docs (dedup_corpus)
    pass it so the construction is paid once per pipeline, not per
    stage."""
    sh = (
        shingles
        if shingles is not None
        else shingle_hash_table(docs).localCheckpoint(eager=True)
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    # |union| = n_a + n_b - |intersect| (exact on duplicate-free arrays;
    # the hashed shingle sets are duplicate-free up to the ~1e-14
    # collision caveat above, and the DuckDB twin uses the SAME formula,
    # so the engines cannot diverge). This halves the per-pair set
    # arithmetic: one array_intersect instead of intersect + union, and
    # codegen subexpression elimination evaluates the repeated intersect
    # once per projection.
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    if threshold > 0:
        # Lossless size prefilter ahead of the expensive intersect:
        # J = i/(n_a+n_b-i) and i <= min imply J <= min/max, so any pair
        # with min(n_a,n_b) < t*max(n_a,n_b) cannot reach the threshold.
        # Two long comparisons per pair vs the set arithmetic — kills 57%
        # of the capped LSH candidates at sf0.1 (163k -> 69k, measured
        # r8) without changing a single output row, so the DuckDB twin
        # needs no mirror (same results either way). Catalyst inlines
        # this into the join condition, which is exactly right for a
        # cheap long comparison.
        joined = joined.filter(
            F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b")
        )
    # Generate barrier (same device as contamination_overlap's
    # explode_outer): materialize |intersect| as a generated attribute so
    # the downstream jaccard >= threshold filter CANNOT be pushed into
    # the join condition. Without it Catalyst substitutes the alias and
    # inlines the full jaccard formula into the BroadcastHashJoin
    # condition — array_intersect then runs twice per candidate pair in
    # the condition plus twice in the projection (read from the r8
    # formatted plan); with the barrier it runs exactly ONCE per
    # size-passing pair and the threshold filter touches only the slim
    # generated long.
    scored = joined.select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        F.explode(F.array(F.size(F.array_intersect("sh_a", "sh_b")))).alias("_i"),
    )
    out = scored.select(
        "doc_a",
        "doc_b",
        (F.col("_i") / (F.col("n_a") + F.col("n_b") - F.col("_i")))
        .cast("double")
        .alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

#: word n-gram width for contamination checks. Real pipelines use 8-13;
#: the synthetic test corpus has ~30-word documents, so the default stays
#: small enough to exercise the operator end-to-end.
CONTAM_NGRAM_N = 4


def word_ngram_hashes() -> Column:
    """Distinct portable hashes of the ``text`` column's word
    ``CONTAM_NGRAM_N``-grams — a row-local expression
    (zero shuffle), built on the shared ``functions.text.word_ngrams``
    construction and the portable 60-bit hash so the DuckDB twin is
    bit-identical."""
    return F.array_distinct(
        F.transform(word_ngrams("text", CONTAM_NGRAM_N), lambda g: portable_hash60(g))
    )


def contamination_overlap(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Training-corpus decontamination against a benchmark/eval suite: flag
    corpus documents sharing at least one distinct word n-gram with ANY
    benchmark document (the n-gram-overlap doctrine used to scrub eval
    sets out of web-scale training corpora).

    Scale shape (the one that survives 100 TB): the benchmark side is an
    eval suite — thousands of documents, not billions — so its distinct
    shingle set is built once and BROADCAST; the corpus is scanned once,
    its shingles exploded and joined map-side against the broadcast build
    (no corpus shuffle at production split counts — see the undersplit
    guard below), and only the slim (doc_id, matched shingle) survivors —
    a tiny fraction of the fan-out after the join filter — reach the
    per-doc aggregation, whose key (doc_id) is unique and therefore
    unskewed by construction.

    Returns ``(doc_id, n_shingles, n_matched)`` for contaminated docs;
    ``n_matched`` counts DISTINCT shared n-grams (the per-doc shingle set
    is already deduplicated row-locally).
    """
    corpus = ensure_cpu_splits(corpus)
    shs = word_ngram_hashes()
    # the eval side is small, but its n-gram construction is the same
    # CPU-bound interpreted HOF as the corpus side — an undersplit eval
    # scan (a handful of input splits) serializes it (r9; measured 0.5 s
    # on 1 task at sf0.1). Same guard as the corpus side; at production
    # eval sizes the exchange is trivial.
    bench_sh = (
        ensure_cpu_splits(benchmark).select(F.explode(shs).alias("sh")).distinct()
    )
    # explode_outer, not explode: plain explode makes Catalyst push its
    # implied `size(_shs) > 0 AND isnotnull(_shs)` predicate through the
    # projection, re-inlining the full n-gram expression into the Filter —
    # the md5 shingling then runs ~3x per corpus row. With the outer
    # variant nothing is pushed, the grams are computed ONCE per row, and
    # the inner join's own isnotnull(sh) drops shingle-less docs on the
    # cheap exploded value instead.
    cor = corpus.select(F.col("doc_id"), shs.alias("_shs")).select(
        "doc_id",
        F.size("_shs").cast("long").alias("n_shingles"),
        F.explode_outer("_shs").alias("sh"),
    )
    return (
        cor.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        # implied by the inner join; kept so the physical plan stays the
        # one tests/plan_snapshots.json pins for dd_contamination
        .filter(F.col("n_matched") >= 1)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_expr() -> Column:
    """Sign-sum SimHash over the ``text`` column's word hashes — ONE pass
    over the word array, zero shuffle (the fingerprint is a row-local
    expression).

    All ``SIMHASH_BITS`` vote counters live in a single array<int> accumulator
    updated per word via zip_with against a constant bit-mask array, so the
    text is tokenized and hashed exactly once per row. (The naive
    per-bit-loop formulation issues one F.aggregate call per bit,
    and Catalyst does not CSE across lambda boundaries — measured 32x the
    expression work / ~10s extra on the sf0.1 bench.)
    """
    words = F.regexp_extract_all(normalize_text("text"), F.lit("[a-z0-9]+"), 0)
    hashes = F.transform(words, lambda w: portable_hash60(w))
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    zero = F.array_repeat(F.lit(0), SIMHASH_BITS)
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # null text -> null hashes -> null votes; coalesce to the all-zero vote
    # vector so the fingerprint is 0 (matches the DuckDB twin's coalesce).
    votes = F.coalesce(votes, zero)
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


# ---------------------------------------------------------------------------
# near-dup transitive clustering (pairs -> keep-one groups)
# ---------------------------------------------------------------------------

#: round bound for the alternating-star connected-components loop. The
#: algorithm converges in O(log^2 n) rounds in the worst case and ~log n in
#: practice (near-dup graphs are unions of small dense blobs plus rare
#: chains); 25 rounds covers any input that fits on a cluster. Hitting the
#: bound raises rather than returning partially-merged clusters.
CC_MAX_ROUNDS = 25

#: edge-count threshold below which the CC loop finishes with a single
#: executor-side union-find instead of further star rounds. 1M edges is
#: two id columns plus dict overhead — well under 1 GiB of task memory —
#: while each avoided star round saves ~4 shuffle stages + a convergence
#: job. Star rounds contract redundant edges (dense blobs, chains), so
#: graphs whose components are small reach this regime fast — on
#: small/medium pair sets (near-dup pairs after LSH + Jaccard verify are
#: a sub-percent fraction of the corpus) it is hit immediately and the
#: whole closure is one job. A giant component keeps >= members-1 edges
#: forever; there the loop exits through the signature fixpoint exactly
#: as before. Runtime size-adaptivity in the AQE spirit: the plan is
#: picked from the OBSERVED edge count, not guessed.
CC_LOCAL_EDGE_THRESHOLD = 1_000_000


def _cc_canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (u < v) form, self-loops dropped."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """Large-star: connect every neighbor v > u to m = min(N(u) + {u}).
    groupBy-min + join back — never a collect_list, so a hub node (the
    eventual cluster root) costs a skewed join key (AQE splits it), not a
    single giant array on one task."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """Small-star: for each node u, connect its smaller neighbors (and u
    itself) to m = min of those neighbors."""
    d = _cc_canonical(edges).select(
        F.col("v").alias("u"), F.col("u").alias("v")
    )  # u = larger endpoint, v = smaller
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    rewired = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return rewired.unionByName(self_edges)


def _cc_local_finish(edges: DataFrame) -> DataFrame:
    """Close the remaining components executor-side: one union-find over
    the (bounded, counted-first) contracted edge set, emitting the final
    star form (u = component-minimum root, v = member) the label join
    expects. The sequential loop is the documented exception to the
    no-per-row-Python rule: union-find has no vectorized form, the input
    is capped at CC_LOCAL_EDGE_THRESHOLD rows by the caller, and it runs
    in a TASK (mapInPandas over a coalesced partition), never on the
    driver. Union order is (max-root -> min-root), so every root is its
    component's minimum id — the same representative the star fixpoint
    converges to."""
    import pandas as pd

    out_schema = edges.schema  # (u, v), input id types preserved

    def fin(batches):
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        stars: dict = {"u": [], "v": []}
        for x in list(parent):
            r = find(x)
            if r != x:
                stars["u"].append(r)
                stars["v"].append(x)
        if stars["u"]:
            yield pd.DataFrame(stars)

    return edges.coalesce(1).mapInPandas(fin, out_schema)


def connected_components(
    pairs: DataFrame, local_edge_threshold: int = CC_LOCAL_EDGE_THRESHOLD
) -> DataFrame:
    """Connected components over an undirected ``(doc_a, doc_b)`` pair list
    via alternating large-star / small-star rewrites (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the distributed
    closure of the reference's keep-one-representative reduction
    (/root/reference/data_validation.py:1274-1284) from exact-equality
    groups to transitive near-dup relations.

    Returns (id, cluster_rep) for every node that appears in ``pairs``,
    where cluster_rep is the MINIMUM id reachable through any chain of
    pairs. Scale shape: no driver-side graph — each round is two
    shuffles (a groupBy-min and a join back on the same key); each round
    is eagerly localCheckpoint-ed so lineage stays O(1) instead of
    O(rounds); convergence is decided from a 2-value checksum (count +
    xxhash bit_xor), the only thing that ever reaches the driver.

    Hybrid finish (r8): star rounds contract the graph; once the
    observed edge count drops to ``local_edge_threshold`` the closure is
    finished by ONE executor-side union-find task (_cc_local_finish)
    instead of ~log(diameter) further rounds of 4 shuffle stages each —
    at 100 TB the rounds do the heavy contraction (and a giant component
    that never fits the threshold still converges via the signature
    fixpoint as before), at bench/test scale the finisher replaces the
    rounds outright (dedup_corpus sf0.1: the CC tail collapses from ~7
    multi-shuffle rounds to one job). Star rounds
    preserve every non-root node in the edge set (large-star keeps each
    v>u attached to a min; small-star's self_edges keep each larger
    endpoint), so finishing from an intermediate contracted set labels
    exactly the nodes the fixpoint would."""
    from pyspark.sql import Observation

    def _ckpt_with_sig(df: DataFrame, tag: str):
        """Eager localCheckpoint with the convergence signature riding the
        SAME job as an Observation (r9): count + order-independent bit_xor
        checksum used to fire as a separate collect job per round — one
        whole job + scheduling gap saved per round. bit_xor is
        order-independent and overflow-free (ANSI mode makes sum(xxhash64)
        raise on long overflow); the edge set is distinct, so xor
        cancellation of repeated rows cannot occur."""
        obs = Observation(f"cc_sig_{tag}")
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).localCheckpoint(eager=True)
        got = obs.get
        return out, (got["n"], got["h"])

    # Checkpoint the INITIAL edge set too: ``pairs`` is typically the tail
    # of an expensive pipeline (MinHash -> banded LSH -> Jaccard verify),
    # and without this the first large-star (which references edges twice
    # via the symmetrization union) and the ``nodes`` projection below
    # would each recompute that whole pipeline from the scan.
    edges, sig = _ckpt_with_sig(
        _cc_canonical(pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))),
        "init",
    )
    nodes = (
        edges.select("u").unionByName(edges.select(F.col("v").alias("u"))).distinct()
    )
    prev_sig = None
    for rnd in range(CC_MAX_ROUNDS):
        if sig[0] <= local_edge_threshold:
            edges = _cc_local_finish(edges)
            break
        if sig == prev_sig:
            break
        prev_sig = sig
        # eager localCheckpoint: materializes the round AND truncates
        # lineage, so round k+1's plan never re-derives rounds 1..k; the
        # checkpoint blocks of finished rounds are reclaimed by the
        # ContextCleaner once unreferenced. (On a cluster with dynamic
        # allocation / executor churn, swap for a reliable checkpoint dir
        # — localCheckpoint blocks die with their executor.)
        edges, sig = _ckpt_with_sig(
            _cc_canonical(_cc_small_star(_cc_large_star(edges))), f"r{rnd}"
        )
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    # at convergence the canonical (u < v) edge set is a star per
    # component with the minimum node at the center: u = root, v = member.
    labels = nodes.join(
        edges.select(F.col("v").alias("u"), F.col("u").alias("_rep")), "u", "left"
    ).select(F.col("u").alias("id"), F.coalesce("_rep", "u").alias("cluster_rep"))
    return labels


def cluster_keep_one(
    pairs: DataFrame, local_edge_threshold: int = CC_LOCAL_EDGE_THRESHOLD
) -> DataFrame:
    """Keep-one policy over transitive near-dup clusters: every node in
    ``pairs`` labeled with its cluster representative (minimum reachable
    id) and ``keep = 1`` iff it IS the representative. The downstream
    dedup stage drops every keep = 0 doc."""
    labels = connected_components(pairs, local_edge_threshold)
    return labels.select(
        F.col("id").alias("doc_id"),
        "cluster_rep",
        (F.col("id") == F.col("cluster_rep")).cast("long").alias("keep"),
    )


def dedup_corpus(docs: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """The full production dedup stage, end to end: exact pre-pass, then
    near-dup clustering over the exact survivors only — the composition a
    training-data pipeline actually runs (and the transitive extension of
    the reference's dedup-on-insert doctrine,
    /root/reference/data_validation.py:728-734, :1274-1284).

    Near-dup means Jaccard >= 0.8 over the ``text`` column's shingles.
    Returns EVERY input doc labeled ``(doc_id, drop_stage)`` with
    ``drop_stage`` in ``('keep', 'exact', 'near')`` — the downstream
    corpus filter is ``drop_stage = 'keep'``, and the per-stage labels
    make attrition attributable (how much each stage removed).

    Scale shape: the exact pre-pass is ONE hash shuffle on the content
    fingerprint (a window over ``_fp``), and it runs FIRST so the
    expensive MinHash/LSH/Jaccard machinery only ever sees the exact
    survivors — on web corpora exact dups are the bulk of duplication, so
    this ordering shrinks the quadratic-risk stage's input, not just its
    output. Near-dup pairs stay candidates-only (banded LSH with a
    hot-bucket cap, Jaccard verify on candidates); clustering is the
    bounded-round alternating-star fixpoint; the final label join is on
    the unique doc_id key (unskewed)."""
    fp = doc_fingerprint().alias("_fp")
    w = Window.partitionBy("_fp").orderBy("doc_id")
    labeled = docs.select("doc_id", "text", fp).withColumn("_rn", F.row_number().over(w))
    survivors = labeled.filter(F.col("_rn") == 1).select("doc_id", "text")
    # ONE shingle construction for the whole near-dup stage: MinHash
    # derives its base hashes from the same hashed shingle set the
    # Jaccard verify intersects, so both consume this checkpointed table
    # (the construction — interpreted HOF over every surviving doc — was
    # previously paid once per stage; measured ~1.9s of the 6.6s
    # dedup_corpus wall at sf0.1)
    sh = shingle_hash_table(survivors).localCheckpoint(eager=True)
    pairs = jaccard_pairs(
        survivors,
        minhash_lsh_candidates(survivors, max_bucket=max_bucket, shingles=sh),
        threshold=0.8,
        shingles=sh,
    )
    keep = cluster_keep_one(pairs)
    return (
        labeled.select("doc_id", (F.col("_rn") > 1).alias("_exact"))
        .join(keep.select("doc_id", "keep"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_exact"), F.lit("exact"))
            .when(F.col("keep") == 0, F.lit("near"))
            .otherwise(F.lit("keep"))
            .alias("drop_stage"),
        )
    )


def prepare_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    max_bucket: int | None = 1000,
    sample_ppm: int | None = None,
) -> DataFrame:
    """The full corpus-preparation pipeline, end to end: quality funnel ->
    benchmark decontamination -> exact + near dedup -> deterministic
    hash-sampling. Returns EVERY input doc labeled ``(doc_id,
    disposition)`` with disposition one of the funnel reasons (``'lang' |
    'short' | 'long' | 'quality' | 'repetition' | 'pii'``),
    ``'contaminated'``, ``'exact'``, ``'near'``, ``'sampled_out'``, or
    ``'keep'`` — each doc charged to the FIRST stage that rejects it, so
    the whole pipeline's attrition is attributable stage by stage (the
    training corpus is ``disposition = 'keep'``).

    Stage ORDER is part of the contract and is the production order:
    row-local filters first (cheapest, biggest kill rate), then the
    broadcast decontamination join, then the shuffle-heavy dedup on the
    smallest surviving set, then the pure-predicate sampler. Each stage
    consumes only the previous stage's survivors.

    Scale shape: the funnel and sampler are scan-shaped (zero shuffle);
    decontamination broadcasts the eval shingle set (see
    contamination_overlap); dedup_corpus documents its own shape. The
    final label assembly is left joins on the unique doc_id key —
    unskewed by construction. Reference anchor: the composed
    validate-then-clear doctrine of /root/reference/data_validation.py
    :728-734 (dedup-on-insert) + :1274-1284 (unique-hits reduction),
    extended to the training-data funnel stages the reference predates.

    The funnel stage is materialized ONCE (eager localCheckpoint, after
    ensure_cpu_splits so an undersplit scan can't single-thread it):
    downstream the frame is referenced by the contamination scan, the
    anti-join, three lineage paths inside dedup_corpus, and the final
    label join — without the barrier each reference re-evaluates the
    funnel CASE (the most expensive row-local expression in the engine)
    over the raw input, measured 6x = 155 s vs 7 s at sf0.1. A cluster
    deployment makes the same move durably: each pipeline stage's
    survivors are a materialized intermediate table, not a re-derivable
    view. The contaminated id set (slim, two columns) is likewise
    materialized: it feeds both the anti-join and the label CASE."""
    d0 = docs.select("doc_id", "text")
    fn = (
        ensure_cpu_splits(d0)
        .withColumn("_funnel", filter_funnel())
        .localCheckpoint(eager=True)
    )
    s1 = fn.filter(F.col("_funnel") == "keep").select("doc_id", "text")
    contam_ids = None
    s2 = s1
    if eval_docs is not None:
        contam_ids = (
            contamination_overlap(s1, eval_docs)
            .select("doc_id")
            .withColumn("_contam", F.lit(True))
            .localCheckpoint(eager=True)
        )
        s2 = s1.join(contam_ids.select("doc_id"), "doc_id", "left_anti")
    dd = dedup_corpus(s2, max_bucket=max_bucket)
    out = fn.select("doc_id", "_funnel")
    if contam_ids is not None:
        out = out.join(contam_ids, "doc_id", "left")
    else:
        out = out.withColumn("_contam", F.lit(None).cast("boolean"))
    out = out.join(
        dd.select("doc_id", F.col("drop_stage").alias("_dd")), "doc_id", "left"
    )
    sampled_out = (
        ~hash_sample_predicate(F.col("doc_id"), sample_ppm)
        if sample_ppm is not None
        else F.lit(False)
    )
    return out.select(
        "doc_id",
        F.when(F.col("_funnel") != "keep", F.col("_funnel"))
        .when(F.col("_contam"), F.lit("contaminated"))
        .when(F.col("_dd") == "exact", F.lit("exact"))
        .when(F.col("_dd") == "near", F.lit("near"))
        .when(sampled_out, F.lit("sampled_out"))
        .otherwise(F.lit("keep"))
        .alias("disposition"),
    )


# ---------------------------------------------------------------------------
# DuckDB twin SQL builders (for __spark_entry__ oracles)
# ---------------------------------------------------------------------------


def cluster_keep_one_sql(pairs_cte_body: str) -> str:
    """DuckDB twin of cluster_keep_one: a recursive CTE propagating every
    reachable label to every node, then min per node — transitive closure
    semantics identical to the alternating-star fixpoint. ``pairs_cte_body``
    is a SELECT yielding (doc_a, doc_b).

    ``pr`` is MATERIALIZED explicitly: the recursive term re-executes per
    iteration, and with the pair pipeline (MinHash -> LSH -> Jaccard)
    inlined DuckDB re-evaluated it every round — 41.8 s vs 13.4 s
    materialized at sf0.01 (measured r8)."""
    return f"""WITH RECURSIVE pr AS MATERIALIZED ({pairs_cte_body}),
        edges AS (SELECT doc_a AS u, doc_b AS v FROM pr WHERE doc_a <> doc_b
                  UNION SELECT doc_b, doc_a FROM pr WHERE doc_a <> doc_b),
        reach(id, lab) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.id),
        lab AS (SELECT id AS doc_id, min(lab) AS cluster_rep
                FROM reach GROUP BY id)
        SELECT doc_id, cluster_rep,
               CAST(doc_id = cluster_rep AS BIGINT) AS keep
        FROM lab"""


def dedup_corpus_sql(docs_body: str, verified_pairs_over_surv: str) -> str:
    """DuckDB twin of dedup_corpus. ``docs_body`` is a SELECT yielding the
    input doc set (doc_id, text, ...); ``verified_pairs_over_surv`` must be
    the verified-pairs SELECT built over a table named ``surv`` — the
    exact-survivors CTE this builder defines — so the twin near-dups the
    same post-exact-pre-pass doc set the Spark side does. The fingerprint,
    shingle, minhash and recursive-closure constructions are all the shared
    builders, so the two engines cannot desynchronize stage by stage."""
    return f"""WITH dcx AS ({docs_body}),
        fpx AS (SELECT doc_id, text,
                       row_number() OVER (
                         PARTITION BY {doc_fingerprint_sql('text')}
                         ORDER BY doc_id) AS _rn
                FROM dcx),
        surv AS (SELECT doc_id, text FROM fpx WHERE _rn = 1),
        lab AS ({cluster_keep_one_sql(verified_pairs_over_surv)})
        SELECT f.doc_id,
               CASE WHEN f._rn > 1 THEN 'exact'
                    WHEN l.keep = 0 THEN 'near'
                    ELSE 'keep' END AS drop_stage
        FROM fpx f LEFT JOIN lab l ON f.doc_id = l.doc_id"""


def contaminated_ids_sql(corpus_body: str, eval_body: str) -> str:
    """DuckDB twin of contamination_overlap reduced to the contaminated
    doc_id set (what prepare_corpus consumes). Shares word_ngram_hashes_sql
    with the Spark side. CTE names are prefixed (bshq/cshq/exq) so the
    builder nests safely inside other WITH scopes."""
    return f"""WITH bshq AS (SELECT DISTINCT unnest({word_ngram_hashes_sql('text')}) AS sh
                      FROM ({eval_body}) eb),
         cshq AS (SELECT doc_id, {word_ngram_hashes_sql('text')} AS shs
                  FROM ({corpus_body}) cb),
         exq AS (SELECT doc_id, unnest(shs) AS sh FROM cshq)
        SELECT DISTINCT doc_id FROM exq WHERE sh IN (SELECT sh FROM bshq)"""


def prepare_corpus_sql(
    docs_body: str,
    verified_pairs_over_surv: str,
    eval_body: str | None = None,
    sample_ppm: int | None = None,
) -> str:
    """DuckDB twin of prepare_corpus: the same stage order over the same
    shared builders (funnel CASE, contamination shingles, fingerprint
    window, recursive closure, hash-sample predicate), so every stage of
    the composed pipeline is value-checkable, not just the final corpus
    size. ``verified_pairs_over_surv`` must be built over the table name
    ``surv`` exactly as for dedup_corpus_sql."""
    ct = (
        contaminated_ids_sql("SELECT doc_id, text FROM ps1", eval_body)
        if eval_body is not None
        else "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0"
    )
    dd = dedup_corpus_sql("SELECT doc_id, text FROM ps2", verified_pairs_over_surv)
    sampled = (
        f" WHEN NOT ({hash_sample_predicate_sql('f.doc_id', str(sample_ppm))})"
        " THEN 'sampled_out'"
        if sample_ppm is not None
        else ""
    )
    return f"""WITH p0 AS ({docs_body}),
        fnx AS (SELECT doc_id, text, {filter_funnel_sql('text')} AS funnel FROM p0),
        ps1 AS (SELECT doc_id, text FROM fnx WHERE funnel = 'keep'),
        ctx AS ({ct}),
        ps2 AS (SELECT doc_id, text FROM ps1
                WHERE doc_id NOT IN (SELECT doc_id FROM ctx)),
        ddx AS ({dd})
        SELECT f.doc_id,
               CASE WHEN f.funnel <> 'keep' THEN f.funnel
                    WHEN f.doc_id IN (SELECT doc_id FROM ctx) THEN 'contaminated'
                    WHEN d.drop_stage = 'exact' THEN 'exact'
                    WHEN d.drop_stage = 'near' THEN 'near'{sampled}
                    ELSE 'keep' END AS disposition
        FROM fnx f LEFT JOIN ddx d ON f.doc_id = d.doc_id"""


def word_ngram_hashes_sql(expr: str) -> str:
    """DuckDB-side twin of word_ngram_hashes, on the shared
    ``word_ngrams_sql`` construction."""
    return (
        f"list_distinct(list_transform({word_ngrams_sql(expr, CONTAM_NGRAM_N)}, "
        f"g -> {portable_hash60_sql('g')}))"
    )


def shingle_sql(expr: str) -> str:
    t = normalize_text_sql(expr)
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(length({t}) - {SHINGLE_N - 1}, 1)), "
        f"i -> substr({t}, i, {SHINGLE_N})))"
    )


def shingle_hashes_sql(expr: str) -> str:
    """DuckDB twin of shingle_hashes (same hash, so Jaccard over these is
    bit-identical across engines even under a 60-bit collision)."""
    return (
        f"list_transform({shingle_sql(expr)}, s -> {portable_hash60_sql('s')})"
    )


def minhash_sql(expr: str, i: int) -> str:
    """DuckDB twin of minhash_signature's i-th value: the SAME
    universal-hash family (A[i]*h + B[i]) % P over the SAME shared
    constants — list-expression form here, explode+min-aggregate form on
    the Spark side; the VALUES are identical by construction."""
    h = f"({portable_hash60_sql('s')} % {MINHASH_P})"
    return (
        f"list_min(list_transform({shingle_sql(expr)}, "
        f"s -> ({MINHASH_A[i]} * {h} + {MINHASH_B[i]}) % {MINHASH_P}))"
    )


def simhash_sql(expr: str) -> str:
    t = normalize_text_sql(expr)
    hashes = (
        f"list_transform(regexp_extract_all({t}, '[a-z0-9]+'), "
        f"w -> {portable_hash60_sql('w')})"
    )
    terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"coalesce(list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)), 0)"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
