"""One-pass full-constraint validation: the scale-shape plan.

Round-1's job shape rescanned the token payload for the uniqueness, schema
and stats phases and forced a probe shortcut in the bench. This plan makes
ONE pass over the payload and derives everything else from a slim written
pair table:

    scan snapshot (tokens read once)
      -> Arrow UDF tok_hash (pre-shuffle, scales with cores)
      -> Exchange(doc_id)                        [the only payload shuffle]
      -> pre-aggregate on full row identity (doc_id, source, n_tok,
         tok_hash, n_tok_actual) -> s_mult       [no extra exchange:
         HashPartitioning(doc_id) satisfies any clustering containing
         doc_id]
      -> left join manifest on doc_id (manifest side: Exchange(m_doc_id)
         -> dedup, same exchange-reuse rule) — shuffled-hash, no sorts
      -> ordered CASE verdict
      -> write the slim pair table (10 narrow columns, no tokens)

The pre-aggregation is lossless: duplicate snapshot rows (identical
identity) join to the SAME manifest rows and classify identically, so one
pair row weighted by ``s_mult`` carries exactly the information of s_mult
identical pair rows. Downstream — content probe of the missing set, verdict
rollup, violations (verdict + uniqueness + schema), per-partition stats —
reads the written files; nothing touches the payload again, and uniqueness
violations (per-duplicate dup_rank rows) are reconstructed exactly from the
identity multiplicities.

This is the engine's one implementation of the verdict semantics.
tests/test_onepass.py and tests/test_onepass_random.py check its rolled
verdicts, violations and stats row for row against an independent DuckDB
reference (tests/duckdb_reference.py) that evaluates the same ordered CASE
(queries.VERDICT_CASE_SQL) over raw, un-aggregated rows. Reference anchors:
verdict tree (reference data_validation.py:547-628), content-probe
fallback :1256-1266, uniqueness dedup-on-insert :728-734.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from np_data_validation_spark.functions.hashing import with_tok_hash
from np_data_validation_spark.operators import verdicts as V

IDENTITY_COLS = ["doc_id", "source", "n_tok", "tok_hash", "n_tok_actual"]

#: Written pair-table schema: identity + multiplicity + counterpart + code.
#: m_doc_id and the verdict NAME are derivable and deliberately not written
#: (m_doc_id only feeds the CASE, which is evaluated before the write;
#: names come back via verdicts.verdict_name_expr when needed).
PAIR_COLS = IDENTITY_COLS + ["s_mult", "m_source", "m_n_tok", "m_tok_hash", "verdict_code"]


@dataclass
class OnepassResult:
    rolled: DataFrame      # verdict rollup (engine verdict schema)
    violations: DataFrame  # schema.VIOLATIONS shape
    stats: DataFrame       # per-source + global stats rows (stats_from_identities)
    n_missing: int         # subjects probed by content
    probe_salted: bool = False  # manifest-side salting engaged on the probe join
    ids: DataFrame | None = None  # written identity table (one row per snapshot
    #                               identity + s_mult) — checkpoint fingerprints
    #                               derive from it with no payload rescan


# ---------------------------------------------------------------------------
# stage 1: hash + identity pre-aggregation + join (the one payload pass)
# ---------------------------------------------------------------------------


def hashed_identity(snapshot: DataFrame) -> DataFrame:
    """Slim hashed snapshot pre-aggregated on full row identity.

    The single Exchange(doc_id) here is the only shuffle the payload side
    ever takes: the identity groupBy and the manifest join are both
    satisfied by HashPartitioning(doc_id).
    """
    slim = snapshot.select(
        "doc_id",
        "source",
        "n_tok",
        # actual payload length rides along so schema checks never rescan
        # the token payload; null tokens -> null.
        F.when(F.col("tokens").isNotNull(), F.size("tokens")).alias("n_tok_actual"),
        "tokens",
    )
    slim = with_tok_hash(slim).drop("tokens")
    return (
        slim.repartition("doc_id")
        .groupBy(*IDENTITY_COLS)
        .agg(F.count(F.lit(1)).alias("s_mult"))
    )


def _manifest_m(manifest: DataFrame) -> DataFrame:
    """m_*-aliased manifest, deduped on full identity. The explicit
    Exchange(m_doc_id) serves both the dedup and the doc_id join."""
    return (
        manifest.select(
            F.col("doc_id").alias("m_doc_id"),
            F.col("source").alias("m_source"),
            F.col("n_tok").alias("m_n_tok"),
            F.col("tok_hash").alias("m_tok_hash"),
        )
        .repartition("m_doc_id")
        .dropDuplicates(["m_doc_id", "m_source", "m_n_tok", "m_tok_hash"])
    )


def pairs_stage1(snapshot: DataFrame, manifest: DataFrame) -> DataFrame:
    """The one wide plan: hash -> identity pre-agg -> manifest join ->
    verdict CASE. Exactly two Exchanges total (one per side); shuffled-hash
    join (no sorts), manifest as build side."""
    pre = hashed_identity(snapshot)
    m = _manifest_m(manifest)
    pairs = pre.join(m.hint("shuffle_hash"), pre["doc_id"] == m["m_doc_id"], "left")
    return pairs.withColumn("verdict_code", V.classify_expr()).select(*PAIR_COLS)


# ---------------------------------------------------------------------------
# stage 2: content probe of the missing set (reads the written pair table)
# ---------------------------------------------------------------------------


def probe_pairs_from(
    s1: DataFrame,
    manifest: DataFrame,
    n_miss: int,
    manifest_hot: bool | Callable[[], bool],
) -> tuple[DataFrame, bool]:
    """Re-classify MISSING_COUNTERPART pairs by content (tok_hash equi-join
    against the manifest — the reference's scan-backups-then-checksum
    fallback, data_validation.py:1256-1266). Returns (probed pair rows in
    PAIR_COLS shape, probe_salted). ``s1`` should be backed by written
    files so the miss filter is a columnar scan. ``n_miss``: the stage-1
    miss count (validate_onepass observes it on the stage-1 write); it
    picks the probe tier.

    Skew on the probe key: a mass-duplicated corpus (boilerplate content ->
    one tok_hash carried by millions of MANIFEST rows) funnels the shuffle
    branch into one reducer. ``manifest_hot`` (bool, or a 0-arg callable
    that is only called when the shuffle branch runs — validate_onepass
    passes operators.skew.detect_hot_keys over the manifest's tok_hash)
    engages a salted join with the manifest as the salted fact side and the
    missed side replicated ``DEFAULT_SALT_BUCKETS``-fold: the hot hash's
    manifest rows spread across the salts while the missed side (already >
    PROBE_BROADCAST_MAX to be here, so bounded) replicates. Skew on the
    MISSED side's tok_hash is the mirror case; salting it would explode the
    manifest that many times over (manifest-wide blowup), so AQE skew-join
    splitting — enabled session-wide (session.py) — is the designated
    handler there: the un-hinted inner join lets AQE split the hot missed
    partition and replicate the matching manifest rows."""
    from np_data_validation_spark.operators import skew as SK

    missed = s1.filter(F.col("verdict_code") == V.MISSING_COUNTERPART).drop(
        "m_doc_id", "m_source", "m_n_tok", "m_tok_hash", "verdict_code"
    )
    withhash = missed.filter(F.col("tok_hash").isNotNull())
    probe_salted = False
    if n_miss <= V.PROBE_BROADCAST_MAX:
        # broadcast the tiny missed side; the manifest is only scanned
        # (map-side hash lookup — manifest-side skew is irrelevant here,
        # no shuffle partitions exist to funnel).
        # r9 (guide §2.4/§8 — decide with small rows, never shuffle the
        # big side): join the RAW manifest map-side first, dedup the JOIN
        # OUTPUT on (identity, m_identity). The old shape ran
        # _manifest_m's Exchange(m_doc_id) + dropDuplicates over the FULL
        # manifest before the broadcast join — a manifest-wide shuffle
        # whose only consumer was this probe (measured ~6.8 s of the
        # ~10 s probe phase at 8M rows). Equivalence: s1 identities are
        # unique (stage-1 pre-aggregates on full identity, s_mult rides
        # along functionally determined), so dedup-manifest-then-join and
        # join-then-dedup-pairs yield the SAME (identity, m_identity) row
        # set — the exchange now carries only hash-matched pairs (a miss
        # fraction) instead of every manifest row. NOTE: this rewrite is
        # only valid over an identity-unique missed side; over raw
        # snapshot rows (duplicates must each keep a row) the manifest
        # must be deduped before the join instead.
        m_raw = manifest.select(
            F.col("doc_id").alias("m_doc_id"),
            F.col("source").alias("m_source"),
            F.col("n_tok").alias("m_n_tok"),
            F.col("tok_hash").alias("m_tok_hash"),
        ).filter(F.col("m_tok_hash").isNotNull())
        found = m_raw.join(
            F.broadcast(withhash), F.col("tok_hash") == F.col("m_tok_hash"), "inner"
        ).dropDuplicates(
            IDENTITY_COLS + ["m_doc_id", "m_source", "m_n_tok", "m_tok_hash"]
        )
    else:
        mm = manifest
        if n_miss <= V.PROBE_KEYS_BROADCAST_MAX:
            # Keyed semi pre-filter (guide §3.2): the missed ROWS are too
            # big to broadcast, but their distinct tok_hash KEYS (8 bytes
            # each vs ~96-byte rows) still fit the byte budget. Broadcast
            # the key set and left-semi the RAW manifest on it BEFORE the
            # dedup exchange — rows without a missed hash cannot join, so
            # dropping them map-side is lossless (the probe join is equi
            # on tok_hash; filter commutes with the identity dedup because
            # it only reads a dedup-key column). The downstream exchange
            # then carries only hash-matched manifest rows (a miss-bound
            # fraction) instead of the whole manifest — at the 48M bench
            # this is the difference between shuffling 46M manifest rows
            # and ~1M. Beyond the key budget (true 10^12-row regime) the
            # full-shuffle branch below remains, detection + salting
            # included.
            keys = withhash.select(F.col("tok_hash").alias("_probe_h")).distinct()
            mm = manifest.join(
                F.broadcast(keys),
                F.col("tok_hash") == F.col("_probe_h"),
                "left_semi",
            )
        m = _manifest_m(mm).filter(F.col("m_tok_hash").isNotNull())
        if callable(manifest_hot):
            manifest_hot = manifest_hot()
        if manifest_hot:
            m2 = m.withColumn("_pk", F.col("m_tok_hash"))
            w2 = withhash.withColumn("_pk", F.col("tok_hash"))
            found = SK.salted_join(
                m2,
                w2,
                on=["_pk"],
                how="inner",
                entropy_cols=["m_doc_id", "m_source", "m_n_tok", "m_tok_hash"],
            ).drop("_pk")
            probe_salted = True
        else:
            found = withhash.join(m, F.col("tok_hash") == F.col("m_tok_hash"), "inner")
    # NULL-SAFE anti-join on the full identity: each distinct identity stays
    # MISSING unless ITS OWN content matched (per-identity probe semantics —
    # a subject holding two identities where only one content-matches keeps
    # a MISSING row for the other, exactly like a per-row left-join
    # probe). Plain column-list equality would be null-unsafe: a missed row
    # with a null identity column (e.g. null n_tok) that content-matched
    # would reappear in `still` and double-report (found pair + spurious
    # MISSING row).
    # the _f_ aliases mint fresh attribute ids: with the keyed probe tier
    # the missed-side attributes appear TWICE inside ``found``'s lineage
    # (join left + the broadcast key subtree), which trips Spark's
    # ambiguous-self-join check on a bare column-object condition
    found_ids = (
        found.select(*IDENTITY_COLS)
        .dropDuplicates()
        .select(*[F.col(c).alias(f"_f_{c}") for c in IDENTITY_COLS])
    )
    anti_cond = None
    for c in IDENTITY_COLS:
        e = missed[c].eqNullSafe(found_ids[f"_f_{c}"])
        anti_cond = e if anti_cond is None else anti_cond & e
    still = missed.join(found_ids, anti_cond, "left_anti").select(
        *IDENTITY_COLS,
        "s_mult",
        F.lit(None).cast("string").alias("m_doc_id"),
        F.lit(None).cast("string").alias("m_source"),
        F.lit(None).cast("int").alias("m_n_tok"),
        F.lit(None).cast("long").alias("m_tok_hash"),
    )
    probed = found.select(*IDENTITY_COLS, "s_mult", "m_doc_id", "m_source", "m_n_tok", "m_tok_hash").unionByName(still)
    return (
        probed.withColumn("verdict_code", V.classify_expr()).select(*PAIR_COLS),
        probe_salted,
    )


def merged_pairs(s1: DataFrame, probed: DataFrame) -> DataFrame:
    """Final classified pair table: stage-1 hits + probe outcomes."""
    return s1.filter(F.col("verdict_code") != V.MISSING_COUNTERPART).unionByName(probed)


# ---------------------------------------------------------------------------
# derived outputs (read slim written files; no payload rescans)
# ---------------------------------------------------------------------------


def rollup_pairs(pairs: DataFrame) -> DataFrame:
    """Per-subject rollup over its pair verdicts, weighted by the identity
    multiplicity (sum(s_mult) == raw pair-row count).

    ``final_verdict_code`` = max code — the threshold semantics make max
    meaningful (valid backups 21+ dominate, invalid band 10-13 dominates
    benign 0-7), matching the reference's "any hit >= VALID_COPY..."
    action gate (:1329) and "any invalid copy vetoes" rule
    (reference strategies.py:135-138).

    Every aggregate is algebraic, so a hot ``(doc_id, source)`` key (the
    reference's one-big-session pathology, data_validation.py:1449-1455)
    needs no salting: the partial aggregate runs below the one Exchange
    (doc_id, source), and the key crosses the shuffle as at most one row
    per map task."""
    code = F.col("verdict_code")
    valid = (code >= V.VALID_MIN) | (code == V.SELF)
    invalid = code.between(V.UNSYNCED_DATA, V.UNSYNCED_OR_CORRUPT_DATA)
    missing = code == V.MISSING_COUNTERPART
    grouped = pairs.groupBy("doc_id", "source").agg(
        F.max("verdict_code").alias("final_verdict_code"),
        F.max(valid).alias("has_valid"),
        F.max(invalid).alias("has_invalid"),
        F.max(missing).alias("is_missing"),
        F.sum("s_mult").alias("n_pairs"),
    )
    return (
        grouped
        .withColumn(
            "row_status",
            F.when(F.col("has_invalid") | F.col("is_missing"), F.lit("fail"))
            .when(
                F.col("has_valid")
                | F.col("final_verdict_code").isin(V.SELF_NO_CHECKSUM, V.OTHER_NO_CHECKSUM),
                F.lit("pass"),
            )
            .otherwise(F.lit("unknown")),
        )
    )


def identity_rows(s1: DataFrame) -> DataFrame:
    """One row per snapshot identity (+ s_mult + the group's total
    multiplicity), recovered from the pair table (identities repeat once
    per manifest match; the probe never changes them). The
    repartition(doc_id) serves the dedup, and ``tot_mult`` rides a window
    over the same partitioning (sort only, no second exchange) — so the
    uniqueness check downstream is a pure FILTER, not an aggregation+
    broadcast round-trip."""
    w = Window.partitionBy("doc_id", "source")
    return (
        s1.select(*IDENTITY_COLS, "s_mult")
        .repartition("doc_id")
        .dropDuplicates(IDENTITY_COLS)
        .withColumn("tot_mult", F.sum("s_mult").over(w))
    )


def verdict_violations(pairs: DataFrame) -> DataFrame:
    """Violation rows (schema.VIOLATIONS) from classified pairs — the
    reference's report()-then-act path (data_validation.py:1403-1447) as a table instead of a log. One violation row per RAW pair
    row (s_mult replication)."""
    code = F.col("verdict_code")
    cls = None
    for verdict, name in V.VIOLATION_CLASS.items():
        cls = (F.when if cls is None else cls.when)(code == verdict, F.lit(name))
    return (
        pairs.withColumn("violation", cls)
        .filter(F.col("violation").isNotNull())
        .withColumn("verdict", V.verdict_name_expr())
        .withColumn("_r", F.explode(F.sequence(F.lit(1).cast("long"), F.col("s_mult"))))
        .select(
            "doc_id",
            "source",
            "violation",
            F.to_json(
                F.struct(
                    F.col("verdict"),
                    F.col("n_tok"),
                    F.col("m_n_tok"),
                    F.col("tok_hash"),
                    F.col("m_tok_hash"),
                    F.col("m_source"),
                )
            ).alias("detail"),
        )
    )


def uniqueness_violations_from_identities(ids: DataFrame) -> DataFrame:
    """All-but-first raw rows sharing a (doc_id, source) identity — the
    reference's dedup-on-insert skip (data_validation.py:728-734,
    :798-804). Per (doc_id, source), identities ordered by
    (tok_hash, n_tok) nulls-last occupy rank ranges [cum+1, cum+s_mult];
    every rank > 1 is a DUPLICATE_DOC_ID row. The deterministic tiebreak
    (no wall-clock) makes resumed runs flag identical rows. ``tot_mult``
    was precomputed at identity-write time, so selecting the offending
    groups is a plain filter and only the (rare) offenders reach the
    ranking window."""
    bad = ids.filter(F.col("tot_mult") > 1)
    w = Window.partitionBy("doc_id", "source").orderBy(
        F.col("tok_hash").asc_nulls_last(), F.col("n_tok").asc_nulls_last()
    )
    start = F.coalesce(
        F.sum("s_mult").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return (
        bad.withColumn("_start", start)
        # drop empty rank ranges BEFORE exploding: the group's first-sorted
        # identity with s_mult=1 has range [greatest(1,2)=2, 1], and Spark's
        # sequence(2, 1) counts DOWN ([2,1]) instead of yielding [] — which
        # would emit spurious DUPLICATE_DOC_ID rows (including dup_rank=1
        # against the copy that is kept).
        .filter(F.col("_start") + F.col("s_mult") >= 2)
        .withColumn(
            "dup_rank",
            F.explode(
                F.sequence(
                    F.greatest(F.col("_start") + 1, F.lit(2).cast("long")),
                    F.col("_start") + F.col("s_mult"),
                )
            ),
        )
        .select(
            "doc_id",
            "source",
            F.lit("DUPLICATE_DOC_ID").alias("violation"),
            F.to_json(F.struct("dup_rank", "n_tok", "tok_hash")).alias("detail"),
        )
    )


def schema_violations_from_identities(ids: DataFrame) -> DataFrame:
    """Row-level schema invariants, one row per raw snapshot row:

    * N_TOK_MISMATCH — ``n_tok != size(tokens)`` (the cheap surrogate must
      agree with the payload, reference size semantics :475-482)
    * NULL_N_TOK / NULL_DOC_ID — required-field checks (reference: "size and
      path fields are required entries", :549-550)
    """
    rep = F.explode(F.sequence(F.lit(1).cast("long"), F.col("s_mult")))
    mismatch = (
        ids.filter(
            F.col("n_tok_actual").isNotNull() & (F.col("n_tok") != F.col("n_tok_actual"))
        )
        .withColumn("_r", rep)
        .select(
            "doc_id",
            "source",
            F.lit("N_TOK_MISMATCH").alias("violation"),
            F.to_json(
                F.struct(F.col("n_tok"), F.col("n_tok_actual").alias("actual_len"))
            ).alias("detail"),
        )
    )
    null_ntok = (
        ids.filter(F.col("n_tok").isNull())
        .withColumn("_r", rep)
        .select(
            "doc_id",
            "source",
            F.lit("NULL_N_TOK").alias("violation"),
            F.to_json(F.struct(F.col("n_tok_actual").alias("actual_len"))).alias(
                "detail"
            ),
        )
    )
    null_docid = (
        ids.filter(F.col("doc_id").isNull())
        .withColumn("_r", rep)
        .select(
            "doc_id",
            "source",
            F.lit("NULL_DOC_ID").alias("violation"),
            F.to_json(
                F.struct(F.col("n_tok"), F.col("n_tok_actual").alias("actual_len"))
            ).alias("detail"),
        )
    )
    return mismatch.unionByName(null_ntok).unionByName(null_docid)


def all_violations(merged: DataFrame, ids: DataFrame) -> DataFrame:
    """Batch-scoped violations: verdict-derived + uniqueness + schema."""
    return (
        verdict_violations(merged)
        .unionByName(uniqueness_violations_from_identities(ids))
        .unionByName(schema_violations_from_identities(ids))
    )


def stats_from_identities(ids: DataFrame) -> DataFrame:
    """One stats row per partition PLUS a global row, in one pass via
    rollup() (grouping sets; the global row has source = NULL and
    is_global = true). Multiplicity-weighted so the numbers equal a
    raw-snapshot pass, with no token-payload rescan (approx-distinct is
    duplicate-insensitive)."""
    mult = F.col("s_mult")
    ntok_notnull = F.when(F.col("n_tok").isNotNull(), mult).otherwise(F.lit(0))
    return ids.rollup("source").agg(
        F.sum(mult).alias("n_rows"),
        F.min("n_tok").alias("n_tok_min"),
        F.max("n_tok").alias("n_tok_max"),
        (F.sum(F.col("n_tok").cast("long") * mult) / F.sum(ntok_notnull)).alias(
            "n_tok_avg"
        ),
        F.sum(F.col("n_tok").cast("long") * mult).alias("n_tok_sum"),
        (
            F.sum(F.when(F.col("n_tok").isNull(), mult).otherwise(F.lit(0)))
            / F.sum(mult)
        ).cast("double").alias("n_tok_null_rate"),
        (
            F.sum(F.when(F.col("n_tok_actual").isNull(), mult).otherwise(F.lit(0)))
            / F.sum(mult)
        ).cast("double").alias("tokens_null_rate"),
        F.approx_count_distinct("doc_id", 0.02).alias("doc_id_approx_distinct"),
        (F.grouping("source") == 1).alias("is_global"),
    )


ROLLED_PUBLIC_COLS = [
    "doc_id", "source", "final_verdict_code", "has_valid", "has_invalid",
    "is_missing", "n_pairs", "row_status",
]


def validate_onepass(
    spark: SparkSession,
    snapshot: DataFrame,
    manifest: DataFrame,
    work_dir: str,
) -> OnepassResult:
    """Full constraint pass: the payload is scanned once into the written
    slim pair table; probe, rollup, violations and stats all derive from
    written files. Returns live DataFrames backed by ``work_dir``.

    Skew: the probe's shuffle tier salts a hot manifest tok_hash
    (probe_pairs_from); the rollup needs no skew branch (rollup_pairs)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    from np_data_validation_spark.operators import skew as SK

    def write_read(df: DataFrame, name: str) -> DataFrame:
        # read back with the writer's schema: a legitimately EMPTY output
        # (e.g. no missing subjects -> empty probe table) produces a
        # file-less directory that schema inference would reject.
        path = os.path.join(work_dir, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.schema(df.schema).parquet(path)

    # Probe-key skew detection (manifest side of the tok_hash content
    # probe) is LAZY: its result is consumed only if the probe takes the
    # shuffle branch (miss set too big to broadcast), so the common
    # broadcast-probe path never submits the narrow manifest scan.
    mhot_f = lambda: SK.detect_hot_keys(  # noqa: E731
        manifest.select("tok_hash"), ("tok_hash",)
    )
    # the miss count rides the stage-1 write as an observation (no extra job)
    obs = Observation("onepass_stage1")
    s1_obs = pairs_stage1(snapshot, manifest).observe(
        obs,
        F.sum(
            F.when(F.col("verdict_code") == V.MISSING_COUNTERPART, 1).otherwise(0)
        ).alias("n_missing"),
    )
    s1 = write_read(s1_obs, "pairs_stage1")
    n_miss = int(obs.get["n_missing"] or 0)
    probed, probe_salted = probe_pairs_from(
        s1, manifest, n_miss=n_miss, manifest_hot=mhot_f
    )
    # identities (uniqueness/schema/stats input) and the probe table are
    # independent given the written s1 — submit both writes concurrently
    # (Spark schedules concurrent jobs from separate threads), hiding one
    # job's latency behind the other's.
    with ThreadPoolExecutor(max_workers=2) as pool:
        ids_f = pool.submit(write_read, identity_rows(s1), "identities")
        probe_f = pool.submit(write_read, probed, "pairs_probe")
        ids = ids_f.result()
        merged = merged_pairs(s1, probe_f.result())
    rolled = write_read(rollup_pairs(merged), "rolled")
    return OnepassResult(
        rolled=rolled.select(*ROLLED_PUBLIC_COLS),
        violations=all_violations(merged, ids),
        stats=stats_from_identities(ids),
        n_missing=n_miss,
        probe_salted=probe_salted,
        ids=ids,
    )
