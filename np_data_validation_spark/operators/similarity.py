"""Similarity search over embedding columns (array<float>).

* ``cosine_expr`` — JVM-side cosine via zip_with + aggregate (codegen, no
  Python), with a DuckDB ``list_cosine_similarity`` twin for oracles.
* ``brute_force_topk`` — exact top-k: broadcast the (small) query side
  against the (huge) corpus, window rank per query. The correctness
  baseline; scan cost O(corpus x queries), fully distributed.
* ``lsh_topk_portable`` — approximate top-k: sign-random-projection buckets
  (Charikar hyperplane LSH) from md5-derived hyperplanes, evaluated as a
  JVM expression with a bit-identical DuckDB twin
  (``bucket_portable_sql``); candidates = corpus rows sharing the query's
  bucket (multi-probe over hamming-1 neighbors), exact cosine re-rank on
  candidates only.
* ``embedding_near_dups`` — near-duplicate pairs by cosine >= threshold
  over a full self cross-join (small corpora / oracle use).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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
) -> DataFrame:
    """Exact top-k neighbors per query, over ``(vec_id, embedding)`` rows on
    both sides. The query side is broadcast — the
    corpus is never shuffled, each task scores its own partition slice
    (at 10^12 rows this is one scan + a tiny per-query heap via the rank
    window on corpus_partitions x queries rows)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_expr("embedding", "_qvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hamming1_neighbors(bucket_col: Column, bits: int) -> Column:
    """Array of the bucket id + its ``bits`` hamming-1 neighbors
    (multi-probe LSH: recovers most near-misses without extra tables)."""
    return F.array(bucket_col, *[bucket_col.bitwiseXOR(F.lit(1 << b)) for b in range(bits)])


# ---------------------------------------------------------------------------
# Portable (oracle-checkable) hyperplane LSH
# ---------------------------------------------------------------------------
#
# Each plane coefficient derives from an md5 hash of (seed, dim_index,
# bit_index), and the projection is evaluated as a strictly left-to-right
# fold, so a DuckDB oracle computes bit-identical buckets (same IEEE
# operation sequence). Coefficients are iid symmetric around 0 —
# sign-projection LSH only needs symmetry, cf. Charikar'02 /
# Achlioptas'01 ±1 projections.

PORTABLE_BITS = 8
#: hyperplane seed, shared by the Spark expression and the DuckDB twin
PORTABLE_SEED = 1234


def _portable_plane_values(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-hyperplanes in [-1, 1]: md5-derived, identical
    constants on the Spark and SQL sides (embedded as literals in both)."""
    import hashlib

    out = [[0.0] * bits for _ in range(dim)]
    for d in range(dim):
        for b in range(bits):
            digest = hashlib.md5(f"hp:{PORTABLE_SEED}:{d}:{b}".encode()).digest()
            h = int.from_bytes(digest[:8], "big") >> 4  # 60-bit, sign-free
            out[d][b] = ((h % 2001) - 1000) / 1000.0
    return out


def bucket_portable_expr(
    vec_col: Column | str, dim: int, bits: int = PORTABLE_BITS
) -> Column:
    """JVM-side LSH bucket id from the portable hyperplanes (codegen
    expression; per-bit left-to-right fold over the embedding)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _portable_plane_values(dim, bits)
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


def bucket_portable_sql(vec_expr: str, dim: int, bits: int = PORTABLE_BITS) -> str:
    """DuckDB twin of bucket_portable_expr — identical literals, identical
    left-to-right fold (list_reduce), identical sign rule."""
    planes = _portable_plane_values(dim, bits)
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
    bits: int = PORTABLE_BITS,
) -> DataFrame:
    """Approximate top-k over ``(vec_id, embedding)`` rows: bucket both
    sides once with the portable
    hyperplanes, probe the query bucket + its hamming-1 neighbors, exact
    cosine only on candidates (candidate count per query ~ corpus / 2^bits
    x (bits+1)); DuckDB-twinnable end to end."""
    bucket = lambda df: df.withColumn(  # noqa: E731
        "bucket", bucket_portable_expr("embedding", dim, bits)
    )
    c = bucket(corpus)
    q = bucket(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        F.explode(_hamming1_neighbors(F.col("bucket"), bits)).alias("bucket"),
    )
    cand = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_expr("embedding", "_qvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dups(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """``(vec_id, embedding)`` pairs with cosine >= threshold over the full
    self cross-join — O(n^2), for small corpora / oracles."""
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", cosine_expr("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
