"""Skew handling: deterministic salting and hot-key detection.

The reference has no skew handling and suffers for it: one big session is
one long sequential loop (data_validation.py:1449-1455). Here skew is
handled explicitly (BASELINE.json north_rule):

* AQE skew-join splitting is enabled session-wide (session.py).
* ``salted_join`` implements the explode-replicate pattern for joining a
  skewed fact side against a dimension side; ``with_salt`` adds its
  deterministic salt column.
* ``detect_hot_keys`` decides when the one-pass probe's shuffle tier
  salts a hot manifest tok_hash (plans.onepass.probe_pairs_from).

The verdict rollup needs none of this: its aggregates are algebraic, so a
hot ``(doc_id, source)`` crosses the shuffle as one partial row per map
task (plans.onepass.rollup_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default number of salt buckets for hot-key spreading.
DEFAULT_SALT_BUCKETS = 16

#: Hot-key probe resolution (see detect_hot_keys).
SKEW_PROBE_BUCKETS = 4096

#: A bucket must be both this many times the average bucket ...
SKEW_RATIO = 8.0
#: ... and at least this many absolute rows before salting engages — a
#: reducer group below this is not pathological even fully funneled.
SKEW_MIN_HOT_ROWS = 2_000_000


def detect_hot_keys(
    df: DataFrame,
    keys: tuple[str, ...],
    ratio: float = SKEW_RATIO,
    min_hot_rows: int = SKEW_MIN_HOT_ROWS,
) -> bool:
    """Scale-free hot-key probe: does some grouping key hold a pathological
    share of ``df``'s rows?

    Counts rows per hash bucket (xxhash64(keys) mod SKEW_PROBE_BUCKETS) —
    an upper bound on the hottest key's row count with NO per-key state. An
    exact per-key count would shuffle one partial row per distinct key per
    map task (at 10^12 rows with ~10^12 keys, a full-size shuffle); the
    bucket probe's shuffle is at most SKEW_PROBE_BUCKETS partial rows per
    task, and the scan is narrow (key columns only). Detection is relative
    (hot bucket >= ``ratio`` x the average bucket) so it is scale-free,
    gated by an absolute floor (``min_hot_rows``) so small inputs never
    trip it.

    This is the detector behind validate_onepass's salted probe join — the
    engine's explicit-skew-handling contract (north_rule).
    """
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(SKEW_PROBE_BUCKETS))
    row = (
        df.groupBy(bucket.alias("_bucket"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.max("_c").alias("mx"),
            F.sum("_c").alias("n"),
            F.count(F.lit(1)).alias("k"),
        )
        .first()
    )
    if row is None or not row["n"]:
        return False
    avg = row["n"] / max(row["k"], 1)
    return row["mx"] >= max(ratio * avg, float(min_hot_rows))


def salt_expr(*cols: str | Column, buckets: int = DEFAULT_SALT_BUCKETS) -> Column:
    """Deterministic uniform salt in [0, buckets) from row content.

    Deterministic (no ``rand()``) so re-runs of a resumed job land rows in
    identical buckets — required for the checkpoint idempotence contract.
    """
    return F.pmod(F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols]), F.lit(buckets)).cast("int")


def with_salt(
    df: DataFrame, entropy_cols: list[str], buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    return df.withColumn("_salt", salt_expr(*entropy_cols, buckets=buckets))


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
    buckets: int = DEFAULT_SALT_BUCKETS,
    entropy_cols: list[str] | None = None,
) -> DataFrame:
    """Join a skewed fact side to a (replicable) dimension side.

    The fact side gets a content-derived salt; the dimension side is
    exploded ``buckets``-fold so every (key, salt) partition finds its
    match. Join keys become ``on + [_salt]`` so a hot key's rows spread
    across ``buckets`` reducers instead of one.

    Only correct for joins where the dim side may be replicated (each dim
    row matching a fact row exactly once per salt value) — i.e. equi-joins
    where output multiplicity is per-pair, which is all the engine needs.
    """
    entropy = entropy_cols or on
    fact = with_salt(skewed, entropy, buckets)
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = fact.join(replicated, on + ["_salt"], how)
    return out.drop("_salt")

