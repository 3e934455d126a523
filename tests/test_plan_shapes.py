"""Physical-plan regression guards: the optimizations the engine relies on
at 100-TB scale must stay visible in the executed plans — filters reaching
the parquet scan, small sides broadcast, codegen covering the hot
expressions, no sort-merge in the one-pass join."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_filter_prunes_scan(spark, seq_man, synth_dataset):
    """source = <hive partition> must become a partition filter, not a
    post-scan filter (resume pruning relies on this)."""
    root, _ = synth_dataset
    import os

    seq = spark.read.parquet(os.path.join(root, "sequences"))
    plan = _plan(seq.filter(F.col("source") == "src_01").select("doc_id"))
    assert "PartitionFilters" in plan and "src_01" in plan


def test_column_pruning_reaches_scan(spark, seq_man):
    """A 2-column projection must not read the token payload."""
    seq, _, _ = seq_man
    plan = _plan(seq.select("doc_id", "n_tok"))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema


def test_onepass_join_is_shuffled_hash_with_codegen(spark, seq_man):
    from np_data_validation_spark.plans.onepass import pairs_stage1

    seq, man, _ = seq_man
    plan = _plan(pairs_stage1(seq, man))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # (codegen spans only render in the post-execution AQE final plan)


def test_probe_broadcasts_missed_side(spark, seq_man, tmp_path):
    """A miss set under the byte budget broadcasts, and the broadcast tier
    never consults the manifest hot-key detection."""
    from np_data_validation_spark.operators import verdicts as V
    from np_data_validation_spark.plans import onepass

    seq, man, _ = seq_man
    s1_path = str(tmp_path / "s1")
    onepass.pairs_stage1(seq, man).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)
    n_miss = s1.filter(F.col("verdict_code") == V.MISSING_COUNTERPART).count()
    assert 0 < n_miss <= V.PROBE_BROADCAST_MAX

    def detection_must_not_run():
        raise AssertionError("broadcast tier ran hot-key detection")

    probed, probe_salted = onepass.probe_pairs_from(
        s1, man, n_miss=n_miss, manifest_hot=detection_must_not_run
    )
    assert probe_salted is False
    assert "BroadcastHashJoin" in _plan(probed)


def test_rollup_partial_aggregate_below_its_only_exchange(spark, seq_man, tmp_path):
    """A hot (doc_id, source) needs no salting: the rollup's aggregates are
    algebraic, so a partial HashAggregate runs map-side below the plan's
    only Exchange, hashpartitioning(doc_id, source), and a hot key crosses
    the shuffle as at most one row per map task."""
    from np_data_validation_spark.plans import onepass

    seq, man, _ = seq_man
    s1_path = str(tmp_path / "s1r")
    onepass.pairs_stage1(seq, man).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)
    ops = [
        line.strip().lstrip(":+- ")
        for line in _plan(onepass.rollup_pairs(s1)).splitlines()
    ]
    exchanges = [i for i, op in enumerate(ops) if op.startswith("Exchange")]
    assert len(exchanges) == 1, ops
    x = exchanges[0]
    assert "hashpartitioning(doc_id" in ops[x] and "source" in ops[x], ops[x]
    # tree strings list a parent above its child: the final aggregate sits
    # above the Exchange, the partial one directly below it
    aggs = [i for i, op in enumerate(ops) if op.startswith("HashAggregate")]
    assert len(aggs) == 2, ops
    final, partial = aggs
    assert final < x < partial == x + 1
    assert "partial_max" in ops[partial] and "partial_sum" in ops[partial]


def test_probe_threshold_is_byte_derived_and_large_miss_shuffles(spark, seq_man, tmp_path):
    """The broadcast cap must come from a byte budget (a bare row count
    scales silently with driver heap), and a miss set above it must not
    broadcast its rows — only the keyed tier's tok_hash key set, and
    nothing at all beyond the key budget. The tier is picked from
    ``n_miss``, which this test forces. No tier shuffles the manifest for
    a dedup: every manifest-side exchange of the shuffle tier is a join's,
    on m_tok_hash."""
    from np_data_validation_spark.operators import verdicts as V
    from np_data_validation_spark.plans import onepass

    assert V.PROBE_BROADCAST_MAX == V.PROBE_BROADCAST_MAX_BYTES // V.PROBE_ROW_WIDTH_BYTES
    assert V.PROBE_BROADCAST_MAX * V.PROBE_ROW_WIDTH_BYTES <= 64 << 20

    seq, man, _ = seq_man
    s1_path = str(tmp_path / "s1c")
    onepass.pairs_stage1(seq, man).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)

    def probe_plan(n_miss):
        probed, _ = onepass.probe_pairs_from(
            s1, man, n_miss=n_miss, manifest_hot=False
        )
        return _plan(probed)

    # disable size-based auto-broadcast so the plan shows only the code
    # path's explicit choice (test inputs are tiny and would auto-broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = probe_plan(V.PROBE_KEYS_BROADCAST_MAX + 1)
        assert "BroadcastHashJoin" not in shuffled
        keyed_plan = probe_plan(V.PROBE_BROADCAST_MAX + 1)
        keyed = [line for line in keyed_plan.splitlines() if "BroadcastHashJoin" in line]
        assert keyed and all("LeftSemi" in line for line in keyed)
        for plan in (keyed_plan, shuffled):
            assert "hashpartitioning(m_doc_id" not in plan
        m_keys = {
            line.split("hashpartitioning(")[1].split("#")[0]
            for line in shuffled.splitlines()
            if "Exchange hashpartitioning(m_" in line
        }
        assert m_keys == {"m_tok_hash"}, m_keys
        assert "BroadcastHashJoin" in probe_plan(10)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_uniqueness_is_filter_not_aggregation(spark, seq_man, tmp_path):
    """tot_mult precomputation means selecting uniqueness offenders is a
    pushable filter over the identities table, not an agg+broadcast."""
    from np_data_validation_spark.plans import onepass

    seq, man, _ = seq_man
    ids_path = str(tmp_path / "ids")
    s1_path = str(tmp_path / "s1b")
    onepass.pairs_stage1(seq, man).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)
    onepass.identity_rows(s1).write.parquet(ids_path)
    ids = spark.read.parquet(ids_path)
    plan = _plan(onepass.uniqueness_violations_from_identities(ids))
    assert "PushedFilters: [IsNotNull(tot_mult), GreaterThan(tot_mult,1)]" in plan


# the shared signature implementation lives in the package so bench.py can
# gate its timings on the same shape key
from np_data_validation_spark.plans.signature import plan_signature as _plan_signature  # noqa: E402


#: queries whose driver-contract callable has side effects beyond building
#: a DataFrame (the streaming entry runs an availableNow stream through a
#: temp dir when invoked), so they cannot be plan-snapshotted cheaply.
PLAN_SNAPSHOT_EXCLUDE = {"streaming_verdict_rollup"}


def test_query_plan_snapshots(spark):
    """VERDICT r6 task #7 (extended r7 from the 10 headline queries to the
    whole batch suite): snapshot the physical-plan operator list for every
    driver-contract query so a plan regression (a lost broadcast, an extra
    exchange, a join strategy flip) is caught by pytest instead of by a
    bench-number argument after the fact. A deliberate plan change must
    update the snapshot explicitly:

        NPDV_UPDATE_PLAN_SNAPSHOTS=1 python -m pytest tests/test_plan_shapes.py -q
    """
    import json
    import os

    from np_data_validation_spark import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    snap_path = os.path.join(os.path.dirname(__file__), "plan_snapshots.json")
    qs = Q.queries()
    names = sorted(set(qs) - PLAN_SNAPSHOT_EXCLUDE)
    sigs = {name: _plan_signature(qs[name](spark, sf_dir)) for name in names}

    if os.environ.get("NPDV_UPDATE_PLAN_SNAPSHOTS"):
        with open(snap_path, "w") as f:
            json.dump(sigs, f, indent=1, sort_keys=True)
        return

    assert os.path.exists(snap_path), (
        "no plan snapshot committed; generate one with "
        "NPDV_UPDATE_PLAN_SNAPSHOTS=1"
    )
    with open(snap_path) as f:
        expected = json.load(f)
    stale = sorted(set(expected) - set(names))
    assert not stale, f"snapshots for unknown queries {stale} (update snapshots)"
    for name in names:
        assert name in expected, f"{name}: no snapshot (update snapshots)"
        if sigs[name] != expected[name]:
            got, want = sigs[name], expected[name]
            raise AssertionError(
                f"physical plan changed for {name}:\n"
                f"  expected: {want}\n"
                f"  got:      {got}\n"
                "If deliberate, re-generate with NPDV_UPDATE_PLAN_SNAPSHOTS=1."
            )
