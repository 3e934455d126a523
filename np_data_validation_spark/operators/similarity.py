"""Similarity search over embedding columns (array<float>).

* ``cosine_expr`` — JVM-side cosine via zip_with + aggregate (codegen, no
  Python), with a DuckDB ``list_cosine_similarity`` twin for oracles.
* ``brute_force_topk`` — exact top-k: broadcast the (small) query side
  against the (huge) corpus, window rank per query. The correctness
  baseline; scan cost O(corpus x queries), fully distributed.
* ``lsh_topk`` — the scale path: sign-random-projection buckets (Charikar
  hyperplane LSH). Hyperplanes are a seeded numpy matrix broadcast to
  executors inside a vectorized pandas UDF (one matmul per Arrow batch);
  candidates = corpus rows sharing the query's bucket (multi-probe over
  hamming-1 neighbors), exact cosine re-rank on candidates only.
* ``embedding_near_dups`` — near-duplicate pairs by cosine >= threshold,
  LSH-bucketed self-join (brute variant for small corpora / oracle use).
* ``ivf_topk`` — the OTHER classic ANN scale path (inverted file):
  deterministic hash-sampled centroids (+ optional distributed Lloyd
  refinement), corpus partitioned by nearest-centroid cell, queries probe
  their ``n_probe`` nearest cells, exact cosine re-rank on candidates
  only. Complements hyperplane LSH: cells adapt to the data distribution
  where LSH buckets are data-oblivious.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANN_BITS = 12
ANN_SEED = 1234


def dot_expr(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    return (dot_expr(a, b) / (norm_expr(a) * norm_expr(b))).cast("double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query. The query side is broadcast — the
    corpus is never shuffled, each task scores its own partition slice
    (at 10^12 rows this is one scan + a tiny per-query heap via the rank
    window on corpus_partitions x queries rows)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(vec_col, "_qvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, bits: int = ANN_BITS, seed: int = ANN_SEED) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((dim, bits)).astype(np.float32)


def sign_bucket_udf(dim: int, bits: int = ANN_BITS, seed: int = ANN_SEED):
    """Vectorized pandas UDF: embedding -> LSH bucket id (sign bits of the
    hyperplane projections). One numpy matmul per Arrow batch."""
    planes = _hyperplanes(dim, bits, seed)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())  # [n, dim]
        signs = (mat @ planes) > 0  # [n, bits]
        return pd.Series(signs @ weights)

    return bucket


def with_ann_bucket(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    seed: int = ANN_SEED,
    col_name: str = "bucket",
) -> DataFrame:
    return df.withColumn(col_name, sign_bucket_udf(dim, bits, seed)(F.col(vec_col)))


def _hamming1_neighbors(bucket_col: Column, bits: int) -> Column:
    """Array of the bucket id + its ``bits`` hamming-1 neighbors
    (multi-probe LSH: recovers most near-misses without extra tables)."""
    return F.array(bucket_col, *[bucket_col.bitwiseXOR(F.lit(1 << b)) for b in range(bits)])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    seed: int = ANN_SEED,
) -> DataFrame:
    """Approximate top-k: bucket both sides, probe query bucket + hamming-1
    neighbors, exact cosine only on candidates. Corpus side shuffles once
    on bucket; candidate count per query ~ corpus / 2^bits x (bits+1)."""
    c = with_ann_bucket(corpus, dim, vec_col, bits, seed)
    q = with_ann_bucket(queries, dim, vec_col, bits, seed).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(_hamming1_neighbors(F.col("bucket"), bits)).alias("bucket"),
    )
    cand = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(vec_col, "_qvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Portable (oracle-checkable) hyperplane LSH
# ---------------------------------------------------------------------------
#
# The production bucket kernel above draws hyperplanes from a seeded numpy
# RNG inside a pandas UDF — fast (one matmul per Arrow batch) but not
# reproducible in SQL. The portable variant derives each plane coefficient
# from an md5 hash of (seed, dim_index, bit_index) and evaluates the
# projection as a strictly left-to-right fold, so a DuckDB oracle computes
# bit-identical buckets (same IEEE operation sequence). Same recall
# characteristics (coefficients are iid symmetric around 0 — sign-projection
# LSH only needs symmetry, cf. Charikar'02 / Achlioptas'01 ±1 projections).

PORTABLE_BITS = 8


def _portable_plane_values(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-hyperplanes in [-1, 1]: md5-derived, identical
    constants on the Spark and SQL sides (embedded as literals in both)."""
    import hashlib

    out = [[0.0] * bits for _ in range(dim)]
    for d in range(dim):
        for b in range(bits):
            digest = hashlib.md5(f"hp:{seed}:{d}:{b}".encode()).digest()
            h = int.from_bytes(digest[:8], "big") >> 4  # 60-bit, sign-free
            out[d][b] = ((h % 2001) - 1000) / 1000.0
    return out


def bucket_portable_expr(
    vec_col: Column | str, dim: int, bits: int = PORTABLE_BITS, seed: int = ANN_SEED
) -> Column:
    """JVM-side LSH bucket id from the portable hyperplanes (codegen
    expression; per-bit left-to-right fold over the embedding)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _portable_plane_values(dim, bits, seed)
    acc = None
    for b in range(bits):
        lits = F.array(*[F.lit(planes[d][b]) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, lits, lambda x, p: x.cast("double") * p),
            F.lit(0.0).cast("double"),
            lambda a, v: a + v,
        )
        bit = F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
        acc = bit if acc is None else acc + bit
    return acc


def bucket_portable_sql(
    vec_expr: str, dim: int, bits: int = PORTABLE_BITS, seed: int = ANN_SEED
) -> str:
    """DuckDB twin of bucket_portable_expr — identical literals, identical
    left-to-right fold (list_reduce), identical sign rule."""
    planes = _portable_plane_values(dim, bits, seed)
    terms = []
    for b in range(bits):
        lst = "[" + ",".join(repr(planes[d][b]) for d in range(dim)) + "]"
        proj = (
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({vec_expr}[i] AS DOUBLE) * ({lst})[i]), (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def lsh_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = PORTABLE_BITS,
    seed: int = ANN_SEED,
) -> DataFrame:
    """lsh_topk with the portable bucket expression — same plan shape
    (bucket corpus once, multi-probe hamming-1, exact re-rank on candidates
    only); DuckDB-twinnable end to end."""
    bucket = lambda df: df.withColumn(  # noqa: E731
        "bucket", bucket_portable_expr(vec_col, dim, bits, seed)
    )
    c = bucket(corpus)
    q = bucket(queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(_hamming1_neighbors(F.col("bucket"), bits)).alias("bucket"),
    )
    cand = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(vec_col, "_qvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-partitioned scale path
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_PROBE = 4


def _ivf_assign_udf(centroids: np.ndarray):
    """Vectorized pandas UDF: embedding -> nearest-centroid cell id by
    cosine (one numpy matmul per Arrow batch). Centroids are L2-normalized
    once on the driver so argmax over raw dot products IS argmax over
    cosine (|v| is constant within a row); ties resolve to the lowest cell
    id (numpy argmax takes the first maximum) — deterministic."""
    norms = np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    planes = (centroids / norms).astype(np.float32).T  # [dim, cells]

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())  # [n, dim]
        return pd.Series(np.argmax(mat @ planes, axis=1).astype(np.int32))

    return assign


def _ivf_probe_udf(centroids: np.ndarray, n_probe: int):
    """Vectorized pandas UDF: embedding -> the ``n_probe`` nearest cell
    ids (stable sort: ties resolve to the lowest cell id)."""
    norms = np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    planes = (centroids / norms).astype(np.float32).T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())
        order = np.argsort(-(mat @ planes), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_rounds: int = 1,
) -> np.ndarray:
    """Deterministic IVF codebook. Seeds are the ``n_cells`` corpus
    vectors with the smallest ``xxhash64(id)`` — the same deterministic
    hash-sampling device as tx_hash_sample, so the codebook is
    reproducible across re-runs, partitionings, and cluster sizes (no RNG,
    no ordering dependence). Optional Lloyd refinement runs DISTRIBUTED:
    assignment is the broadcast-matmul pandas UDF (one corpus scan per
    round), per-cell elementwise means via posexplode + groupBy(cell, pos)
    avg — a map-side-combined agg whose output is n_cells x dim rows.
    Driver-side collects are bounded by construction: n_cells seed rows +
    n_cells x dim mean cells per round (the codebook itself, which must
    live on the driver to be broadcast). Empty cells keep their seed."""
    seeds = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    cents = np.vstack([np.asarray(r["_v"], dtype=np.float64) for r in seeds])
    for _ in range(lloyd_rounds):
        assign = _ivf_assign_udf(cents)
        means = (
            corpus.select(
                assign(F.col(vec_col)).alias("cell"),
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        nxt = cents.copy()
        touched = set()
        for r in means:
            nxt[r["cell"], r["pos"]] = r["m"]
            touched.add(r["cell"])
        if not touched:
            break
        cents = nxt
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_rounds: int = 1,
) -> DataFrame:
    """Approximate top-k via an inverted file: corpus rows carry their
    nearest-centroid cell, queries explode to their ``n_probe`` nearest
    cells, candidates = corpus rows in a probed cell, exact cosine re-rank
    on candidates only (expected fraction scanned ~ n_probe / n_cells).

    Scale shape (100 TB): the codebook is tiny (n_cells x dim floats,
    broadcast inside the assign/probe UDFs); the corpus is scanned ONCE
    for assignment per Lloyd round plus once for search and never
    shuffled — the query side (small) explodes x n_probe and broadcasts,
    exactly like lsh_topk. In a persisted deployment the assignment scan
    is amortized: write the corpus bucketed/partitioned BY cell once, and
    every later query batch prunes to n_probe partitions (partition
    pruning does the candidate filtering at the scan). n_cells scales as
    ~sqrt(corpus_rows) (the classic IVF balance point between codebook
    scan and cell scan); here it defaults small because the test corpus
    is 500 rows.

    (``dim`` is kept for signature symmetry with lsh_topk; the codebook
    infers it from the data.)"""
    del dim  # inferred from the seed vectors
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col, lloyd_rounds)
    c = corpus.withColumn("_cell", _ivf_assign_udf(cents)(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(_ivf_probe_udf(cents, n_probe)(F.col(vec_col))).alias("_cell"),
    )
    cand = c.join(F.broadcast(q), "_cell").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(vec_col, "_qvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    bits: int = ANN_BITS,
    seed: int = ANN_SEED,
) -> DataFrame:
    """Pairs with cosine >= threshold. 'lsh': bucketed self-join with
    hamming-1 multi-probe (below); 'brute': full cross-join — O(n^2), only
    for small corpora / oracles.

    Multi-probe: ONE side of the self-join explodes to its bucket plus all
    ``bits`` hamming-1 neighbor buckets (mirrors lsh_topk's probe). A
    near-dup pair straddling exactly one hyperplane boundary lands in
    buckets at hamming distance 1 — the same-bucket-only join silently
    missed those; with the probe, a pair is missed only when >= 2 of the
    ``bits`` hyperplanes split it (recall gated by a planted-pair pytest).
    Exploding one side multiplies that side's shuffle by bits+1 — still
    candidates-only, never all-pairs; id_a < id_b + distinct dedups the
    two probe directions."""
    if method == "brute":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn("cosine", cosine_expr("va", "vb"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    c = with_ann_bucket(df, dim, vec_col, bits, seed)
    a = c.select(
        F.explode(_hamming1_neighbors(F.col("bucket"), bits)).alias("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = c.select("bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )
