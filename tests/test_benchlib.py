"""Unit tests for the plan-snapshot gate that ``bench.py`` runs before it
times the headline queries (``plans.signature.check_plan_snapshots``; no
Spark session, a fake one carries the config key).

The module name predates the gate's move into ``plans/signature.py``; it is
kept so these test ids stay stable.
"""

from __future__ import annotations

from np_data_validation_spark.plans.signature import check_plan_snapshots


class _FakeSpark:
    class sparkContext:
        defaultParallelism = 8

    class conf:
        @staticmethod
        def get(key):
            return "16"


def test_check_plan_snapshots_update_ok_drift(tmp_path):
    snap = str(tmp_path / "snap.json")
    queries = {"q1": lambda s, d: "df1", "q2": lambda s, d: "df2"}
    sig_a = lambda df: [f"Scan {df}", "Exchange"]
    r = check_plan_snapshots(
        _FakeSpark(), "/sf", queries, snap, signature_fn=sig_a
    )
    assert r["status"] == "updated"
    r = check_plan_snapshots(
        _FakeSpark(), "/sf", queries, snap, signature_fn=sig_a
    )
    assert r["status"] == "ok" and r["mismatched"] == []
    # a silently changed plan must be named, not averaged into a number
    sig_b = lambda df: (
        [f"Scan {df}", "Exchange", "SortMergeJoin"] if df == "df2" else sig_a(df)
    )
    r = check_plan_snapshots(
        _FakeSpark(), "/sf", queries, snap, signature_fn=sig_b
    )
    assert r["status"] == "plan_drift" and r["mismatched"] == ["q2"]


def test_check_plan_snapshots_config_scoped(tmp_path):
    # plan shapes legitimately depend on parallelism/splits — a different
    # config must read as config_mismatch (labeled), never as false drift
    snap = str(tmp_path / "snap.json")
    queries = {"q1": lambda s, d: "df1"}
    sig = lambda df: ["Scan"]
    check_plan_snapshots(_FakeSpark(), "/sf", queries, snap, signature_fn=sig)

    class OtherSpark(_FakeSpark):
        class sparkContext:
            defaultParallelism = 32

    r = check_plan_snapshots(
        OtherSpark(), "/sf", queries, snap, signature_fn=lambda df: ["CHANGED"]
    )
    assert r["status"] == "config_mismatch" and r["mismatched"] == []
