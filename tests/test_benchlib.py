"""Unit tests for the steal-qualified benchmark statistics (no Spark).

The scaling gate and the headline bench both summarize rep series through
``benchlib.warm_median`` and qualify reps through
``benchlib.steal_qualified`` — the round-6 measurement doctrine (VERDICT
r5 tasks #1/#3): a rep that ran during a host-steal wave measures the
host, not the engine, and must not enter the reported statistic.
"""

from __future__ import annotations

import pytest

from np_data_validation_spark import benchlib

#: current canary qualification budget — gate-state entries must carry it
#: to be reused on resume (r8 semantics; pre-canary entries re-measure)
_CB = round(benchlib.canary_budget_sec(), 3)


def _rep(sec: float, steal_ms: int | None, rps: float | None = None) -> dict:
    return {
        "sec": sec,
        "rows_per_sec": rps if rps is not None else 1000.0 / sec,
        "steal_ms": steal_ms,
    }


def test_steal_qualified_budget_boundary():
    # budget is a fraction of the rep's own wall: 5% of 100s = 5000 ms
    assert benchlib.steal_qualified(_rep(100.0, 5000), 0.05)
    assert not benchlib.steal_qualified(_rep(100.0, 5001), 0.05)
    # missing telemetry (no /proc/stat) cannot disqualify
    assert benchlib.steal_qualified(_rep(100.0, None), 0.05)


def test_steal_budget_floor_for_short_reps():
    # /proc/stat steal has 10ms jiffy resolution summed host-wide; for a
    # 0.3s query rep the 5% budget is 15ms = 1-2 ticks, so a single
    # background tick would disqualify a clean rep. The absolute floor
    # (50ms default) absorbs tick-granularity noise...
    assert benchlib.steal_qualified(_rep(0.3, 20), 0.05)
    assert benchlib.steal_qualified(_rep(0.3, 50), 0.05)
    assert not benchlib.steal_qualified(_rep(0.3, 51), 0.05)
    # ...and never engages for long reps, where the fractional budget
    # dominates (gate semantics unchanged: 5% of 100s = 5000ms >> floor)
    assert benchlib.steal_qualified(_rep(100.0, 5000), 0.05)
    assert not benchlib.steal_qualified(_rep(100.0, 5001), 0.05)


def test_warm_median_covers_only_qualified_warm_reps():
    reps = [
        _rep(12.0, 100),  # cold (JIT) — never in the statistic
        _rep(8.0, 100),
        _rep(30.0, 9000),  # steal wave — excluded
        _rep(9.0, 100),
    ]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"] == "median_steal_qualified"
    assert m["sec"] == 8.5  # median of the two qualified warm reps
    assert m["qualified_reps"] == "2/3"
    assert m["cold_sec"] == 12.0
    assert m["all_sec"] == [12.0, 8.0, 30.0, 9.0]


def test_warm_median_flags_fully_degraded_window():
    reps = [_rep(10.0, 100), _rep(18.0, 5000), _rep(20.0, 6000)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    # falls back to the plain warm median, flagged; the cold-faster
    # inversion is also flagged because rep 0 beat the covered median
    assert m["stat"] == "median_warm_no_qualified_rep_steal_inverted"
    assert m["sec"] == 19.0
    assert m["qualified_reps"] == "0/2"


def test_warm_median_inversion_never_mixes_cold_rep():
    # ADVICE r5 benchlib:185 — the old fallback medianed over ALL reps on
    # inversion, which only ever made the headline faster. The cold rep
    # must stay out of the statistic even when it is the fastest rep.
    reps = [_rep(5.0, 100), _rep(9.0, 100), _rep(11.0, 100)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"] == "median_steal_qualified_inverted"
    assert m["sec"] == 10.0  # median of warm reps only — 5.0 excluded
    assert m["cold_sec"] == 5.0


def test_warm_median_labels_unmeasured_telemetry():
    # VERDICT r6 task #4: a host with no /proc/stat "qualifies" every rep
    # by absence of telemetry — the stat label must not claim the budget
    # was enforced.
    reps = [_rep(12.0, None), _rep(8.0, None), _rep(9.0, None)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"] == "median_steal_unmeasured"
    assert m["sec"] == 8.5
    # one measured rep among the covered ones restores the qualified label
    reps = [_rep(12.0, None), _rep(8.0, 100), _rep(9.0, None)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"] == "median_steal_qualified"


def test_memory_canary_is_memory_sized_and_disable_gated():
    # tiny shape so the test is fast; the canary must return a positive
    # wall time, reuse its array across calls, and honor the disable gate
    t1 = benchlib.memory_canary_sec(mb=8, passes=2)
    assert t1 is not None and t1 > 0
    arr = benchlib._CANARY_ARR
    assert arr is not None and arr.nbytes == 8 * 1024 * 1024
    t2 = benchlib.memory_canary_sec(mb=8, passes=2)
    assert benchlib._CANARY_ARR is arr  # no realloc between reps
    assert t2 is not None
    assert benchlib.memory_canary_sec(mb=0) is None
    assert benchlib.memory_canary_sec(mb=8, passes=0) is None


def test_clk_tck_scaling_is_sysconf_derived():
    import os

    assert benchlib._CLK_TCK == int(os.sysconf("SC_CLK_TCK"))
    s = benchlib._steal_ms()
    # on this Linux sandbox /proc/stat is present and monotonic
    assert s is not None and s >= 0
    assert benchlib._steal_ms() >= s


def _scaling_module():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "BENCH", "scaling.py")
    spec = importlib.util.spec_from_file_location("npdv_bench_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_state_roundtrip_skips_degraded_rounds(tmp_path):
    # Crash-resume doctrine: a saved level-round is only reused if it was
    # steal-qualified; a round that exhausted its retries in a degraded
    # window must be re-measured on resume, not locked in.
    scaling = _scaling_module()
    state = str(tmp_path / "state.jsonl")
    good = {"sec": 100.0, "rows_per_sec": 1.0, "round_steal_qualified": True,
            "canary_budget_sec": _CB}
    bad = {"sec": 300.0, "rows_per_sec": 0.3, "round_steal_qualified": False,
           "canary_budget_sec": _CB}
    scaling.append_gate_state(state, 4, 0, good)
    scaling.append_gate_state(state, 16, 0, bad)
    scaling.append_gate_state(state, 4, 1, good)
    loaded = scaling.load_gate_state(state)
    assert set(loaded) == {(4, 0), (4, 1)}
    assert loaded[(4, 0)] == good


def test_gate_state_drops_rounds_from_a_different_budget(tmp_path):
    # ADVICE r6 scaling:249 — the state filename doesn't key the steal
    # budget, so a resume must drop rounds qualified under a different
    # NPDV_STEAL_BUDGET_FRAC than the current run reports. Legacy entries
    # with no recorded budget are kept (they predate the field).
    scaling = _scaling_module()
    state = str(tmp_path / "state.jsonl")
    loose = {
        "sec": 100.0,
        "rows_per_sec": 1.0,
        "round_steal_qualified": True,
        "steal_budget_frac": 0.25,
        "canary_budget_sec": _CB,
    }
    matching = dict(loose, steal_budget_frac=0.05)
    legacy = {"sec": 90.0, "rows_per_sec": 1.1, "round_steal_qualified": True,
              "canary_budget_sec": _CB}
    scaling.append_gate_state(state, 4, 0, loose)
    scaling.append_gate_state(state, 4, 1, matching)
    scaling.append_gate_state(state, 16, 0, legacy)
    loaded = scaling.load_gate_state(state, budget_frac=0.05)
    assert set(loaded) == {(4, 1), (16, 0)}
    # no budget passed -> everything qualified is reused (old behavior)
    assert set(scaling.load_gate_state(state)) == {(4, 0), (4, 1), (16, 0)}


def test_gate_state_drops_rounds_from_a_different_budget_floor(tmp_path):
    # The absolute budget floor (NPDV_STEAL_BUDGET_FLOOR_MS) also changes
    # qualification, so a resume drops rounds banked under a different
    # floor than the current run's. Entries with no recorded floor
    # qualified under the pure fraction — strictly tighter than any floor
    # for minutes-long gate reps — and are kept.
    scaling = _scaling_module()
    state = str(tmp_path / "state.jsonl")
    base = {"sec": 100.0, "rows_per_sec": 1.0, "round_steal_qualified": True,
            "canary_budget_sec": _CB}
    loose = dict(base, steal_budget_floor_ms=20000.0)
    matching = dict(base, steal_budget_floor_ms=benchlib.STEAL_BUDGET_FLOOR_MS)
    legacy = dict(base)  # predates the field
    scaling.append_gate_state(state, 4, 0, loose)
    scaling.append_gate_state(state, 4, 1, matching)
    scaling.append_gate_state(state, 16, 0, legacy)
    assert set(scaling.load_gate_state(state)) == {(4, 1), (16, 0)}


def test_gate_state_tolerates_torn_final_line(tmp_path):
    # The writer can be killed mid-append; the truncated line must not
    # poison the resume of the completed rounds before it.
    scaling = _scaling_module()
    state = str(tmp_path / "state.jsonl")
    scaling.append_gate_state(
        state, 4, 0,
        {"sec": 1.0, "round_steal_qualified": True, "canary_budget_sec": _CB},
    )
    with open(state, "a") as f:
        f.write('{"level": 16, "round": 0, "result": {"sec"')
    loaded = scaling.load_gate_state(state)
    assert set(loaded) == {(4, 0)}


def test_gate_state_missing_file_is_empty():
    scaling = _scaling_module()
    assert scaling.load_gate_state("/nonexistent/state.jsonl") == {}


def test_warm_median_labels_single_rep_cold_only():
    """ADVICE r7 bench.py:59: a 1-rep series has no warm rep — the
    statistic IS the codegen-cold rep 0 and the label must say so instead
    of claiming a steal-qualified warm median."""
    m = benchlib.warm_median([_rep(10.0, 0)])
    assert m["stat"] == "cold_only_steal_qualified"
    m = benchlib.warm_median([_rep(10.0, 99999)])
    assert m["stat"] == "cold_only_no_qualified_rep_steal"
    # 2+ reps keep the normal warm labels
    m = benchlib.warm_median([_rep(10.0, 0), _rep(9.0, 0)])
    assert m["stat"] == "median_steal_qualified"


def test_release_canary_frees_the_pinned_array():
    """ADVICE r7 benchlib.py:126: the 256 MiB canary array must not stay
    pinned for the remaining process lifetime after a rep series."""
    sec = benchlib.memory_canary_sec(mb=8, passes=1)
    assert sec is not None and benchlib._CANARY_ARR is not None
    benchlib.release_canary()
    assert benchlib._CANARY_ARR is None
    # a later call at a different size just reallocates at that size
    assert benchlib.memory_canary_sec(mb=4, passes=1) is not None
    assert benchlib._CANARY_ARR.size == 4 * 1024 * 1024 // 8
    benchlib.release_canary()


# --- bandwidth-canary qualification budget (VERDICT r7 task #3) -------------


def _crep(sec: float, steal_ms: int | None, canary: float | None) -> dict:
    r = _rep(sec, steal_ms)
    r["canary_sec"] = canary
    return r


def test_canary_qualified_budget_boundary(monkeypatch):
    monkeypatch.setattr(benchlib, "CANARY_CALM_SEC", 0.60)
    monkeypatch.setattr(benchlib, "CANARY_BUDGET_RATIO", 1.15)
    assert benchlib.canary_budget_sec() == pytest.approx(0.69)
    assert benchlib.canary_qualified(_crep(10.0, 0, 0.69))
    assert not benchlib.canary_qualified(_crep(10.0, 0, 0.691))
    # missing telemetry (canary disabled / pre-canary saved result) cannot
    # disqualify — enforce only what was measured
    assert benchlib.canary_qualified(_crep(10.0, 0, None))
    assert benchlib.canary_qualified(_rep(10.0, 0))  # no canary key at all


def test_warm_median_excludes_bandwidth_degraded_reps(monkeypatch):
    monkeypatch.setattr(benchlib, "CANARY_CALM_SEC", 0.60)
    monkeypatch.setattr(benchlib, "CANARY_BUDGET_RATIO", 1.15)
    reps = [
        _crep(12.0, 0, 0.60),  # cold
        _crep(8.0, 0, 0.61),
        _crep(14.0, 0, 0.95),  # steal-clean but bandwidth-degraded — excluded
        _crep(9.0, 0, 0.58),
    ]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"] == "median_steal_qualified"
    assert m["sec"] == 8.5
    assert m["qualified_reps"] == "2/3"
    assert m["canary_budget_sec"] == pytest.approx(0.69)


def test_warm_median_names_the_binding_budget(monkeypatch):
    monkeypatch.setattr(benchlib, "CANARY_CALM_SEC", 0.60)
    monkeypatch.setattr(benchlib, "CANARY_BUDGET_RATIO", 1.15)
    # steal fine on every warm rep, canary blown on every warm rep
    reps = [_crep(10.0, 0, 0.6), _crep(18.0, 0, 1.2), _crep(20.0, 0, 1.3)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"].startswith("median_warm_no_qualified_rep_bandwidth")
    # canary fine, steal blown -> steal named
    reps = [_crep(10.0, 0, 0.6), _crep(18.0, 5000, 0.6), _crep(20.0, 6000, 0.6)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"].startswith("median_warm_no_qualified_rep_steal")
    # both blown -> both named
    reps = [_crep(10.0, 0, 0.6), _crep(18.0, 5000, 1.2), _crep(20.0, 6000, 1.3)]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["stat"].startswith("median_warm_no_qualified_rep_steal_and_bandwidth")


def test_gate_state_drops_rounds_without_canary_budget(tmp_path):
    """Resume must re-measure rounds saved before the canary became a
    qualification budget (steal-only qualification is strictly weaker) —
    this is also how pre-canary 4-core rounds get canary coverage
    backfilled — and rounds qualified under a DIFFERENT canary budget."""
    import json

    from BENCH import scaling

    state = tmp_path / "state.jsonl"
    good = {
        "rows_per_sec": 100.0,
        "sec": 10.0,
        "round_steal_qualified": True,
        "steal_budget_frac": benchlib.STEAL_BUDGET_FRAC,
        "steal_budget_floor_ms": benchlib.STEAL_BUDGET_FLOOR_MS,
        "canary_budget_sec": round(benchlib.canary_budget_sec(), 3),
    }
    pre_canary = {k: v for k, v in good.items() if k != "canary_budget_sec"}
    other_budget = dict(good, canary_budget_sec=99.0)
    with open(state, "w") as f:
        for i, res in enumerate([good, pre_canary, other_budget]):
            f.write(json.dumps({"level": 4, "round": i, "result": res}) + "\n")
    loaded = scaling.load_gate_state(str(state), benchlib.STEAL_BUDGET_FRAC)
    assert set(loaded) == {(4, 0)}


# --- bench plan-snapshot gate + retry-until-qualified (VERDICT r7 #4/#5) ----


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
    r = benchlib.check_plan_snapshots(
        _FakeSpark(), "/sf", queries, snap, signature_fn=sig_a
    )
    assert r["status"] == "updated"
    r = benchlib.check_plan_snapshots(
        _FakeSpark(), "/sf", queries, snap, signature_fn=sig_a
    )
    assert r["status"] == "ok" and r["mismatched"] == []
    # a silently changed plan must be named, not averaged into a number
    sig_b = lambda df: (
        [f"Scan {df}", "Exchange", "SortMergeJoin"] if df == "df2" else sig_a(df)
    )
    r = benchlib.check_plan_snapshots(
        _FakeSpark(), "/sf", queries, snap, signature_fn=sig_b
    )
    assert r["status"] == "plan_drift" and r["mismatched"] == ["q2"]


def test_check_plan_snapshots_config_scoped(tmp_path):
    # plan shapes legitimately depend on parallelism/splits — a different
    # config must read as config_mismatch (labeled), never as false drift
    snap = str(tmp_path / "snap.json")
    queries = {"q1": lambda s, d: "df1"}
    sig = lambda df: ["Scan"]
    benchlib.check_plan_snapshots(_FakeSpark(), "/sf", queries, snap, signature_fn=sig)

    class OtherSpark(_FakeSpark):
        class sparkContext:
            defaultParallelism = 32

    r = benchlib.check_plan_snapshots(
        OtherSpark(), "/sf", queries, snap, signature_fn=lambda df: ["CHANGED"]
    )
    assert r["status"] == "config_mismatch" and r["mismatched"] == []


def test_run_validation_reps_until_qualified_retries_bounded(monkeypatch):
    """VERDICT r7 task #4: the headline gets the same bounded
    retry-until-qualified loop the gate rounds have. Series 1 is fully
    degraded; the first retry produces a qualified rep and the loop
    stops; a permanently degraded window exhausts the bound."""
    calls = {"n": 0}
    series = [
        [_crep(12.0, 0, None), _crep(30.0, 9000, None), _crep(31.0, 9500, None)],
        [_crep(9.0, 0, None), _crep(8.5, 0, None)],
    ]

    def fake_reps(spark, root, reps=4):
        out = series[min(calls["n"], len(series) - 1)]
        calls["n"] += 1
        return out

    monkeypatch.setattr(benchlib, "run_validation_reps", fake_reps)
    results, used = benchlib.run_validation_reps_until_qualified(
        None, "/root", reps=3, retries=2, retry_reps=2
    )
    assert used == 1 and len(results) == 5
    m = benchlib.warm_median(results)
    assert m["stat"] == "median_steal_qualified"
    assert m["sec"] == 8.75  # median of the two qualified retry reps

    # permanently degraded: bound respected, stat stays flagged
    calls["n"] = 0
    series = [[_crep(30.0, 9000, None), _crep(31.0, 9500, None)]] * 10
    results, used = benchlib.run_validation_reps_until_qualified(
        None, "/root", reps=2, retries=2, retry_reps=2
    )
    assert used == 2
    assert benchlib.warm_median(results)["stat"].startswith(
        "median_warm_no_qualified_rep_steal"
    )


def test_canary_sandwich_vetoes_only_when_both_sides_blown(monkeypatch):
    """r8: bandwidth waves are short relative to a long rep, so a blown
    PRE-canary next to a calm POST-canary (= the next rep's pre-canary)
    must not veto the rep — the measured case was the 48M run's fastest
    warm rep (71.7 s, steal within budget) sitting behind a 1.611 s
    pre-canary with a 0.579 s probe right after it."""
    monkeypatch.setattr(benchlib, "CANARY_CALM_SEC", 0.60)
    monkeypatch.setattr(benchlib, "CANARY_BUDGET_RATIO", 1.15)
    r = _crep(71.7, 3000, 1.611)
    r["canary_after_sec"] = 0.579  # wave ended before the rep started
    assert benchlib.canary_qualified(r)
    r["canary_after_sec"] = 1.4  # wave visible on BOTH sides -> vetoed
    assert not benchlib.canary_qualified(r)
    r["canary_after_sec"] = None  # no after probe -> before-only semantics
    assert not benchlib.canary_qualified(r)
    ok = _crep(10.0, 0, 0.58)
    ok["canary_after_sec"] = 2.0  # wave started after the rep ended
    assert benchlib.canary_qualified(ok)


def test_run_validation_reps_chains_canary_after(monkeypatch):
    """run_validation_reps must close the sandwich: rep i's after-probe is
    rep i+1's pre-canary; the last rep gets a trailing probe."""
    pre = iter([0.60, 1.50, 0.58, 0.99])  # 3 pre-canaries + 1 trailing

    monkeypatch.setattr(
        benchlib, "memory_canary_sec", lambda *a, **k: next(pre)
    )
    monkeypatch.setattr(
        benchlib,
        "run_validation_job",
        lambda spark, root: {
            "sec": 10.0,
            "rows_per_sec": 1.0,
        },
    )
    monkeypatch.setattr(benchlib, "_gc_ms", lambda spark: 0)
    monkeypatch.setattr(benchlib, "_steal_ms", lambda: 0)

    class _FakeSpark:
        class catalog:
            @staticmethod
            def clearCache():
                pass

        class _jvm:
            class System:
                @staticmethod
                def gc():
                    pass

        class sparkContext:
            @staticmethod
            def getConf():
                class C:
                    @staticmethod
                    def get(k, d=""):
                        return ""

                return C()

    import time as _t

    monkeypatch.setattr(_t, "sleep", lambda s: None)
    reps = benchlib.run_validation_reps(_FakeSpark, "/nowhere", reps=3)
    assert [r["canary_sec"] for r in reps] == [0.60, 1.50, 0.58]
    assert [r["canary_after_sec"] for r in reps] == [1.50, 0.58, 0.99]


def test_warm_median_reports_round_best_qualified(monkeypatch):
    """r8 gate-doctrine alignment: noise is strictly additive, so the
    best qualified warm rep is the round's faithful estimate; warm_median
    must surface it beside the (upper-bound) median."""
    monkeypatch.setattr(benchlib, "CANARY_CALM_SEC", 0.60)
    monkeypatch.setattr(benchlib, "CANARY_BUDGET_RATIO", 1.15)
    reps = [
        _crep(28.8, 0, 0.60),   # cold — never the best-qualified source
        _crep(24.3, 0, 0.59),
        _crep(57.3, 0, 0.55),   # qualified yet polluted mid-rep
        _crep(26.0, 9000, 0.58),  # steal-disqualified
    ]
    for r in reps:
        r["rows_per_sec"] = 1000.0 / r["sec"]
    m = benchlib.warm_median(reps, budget_frac=0.05)
    assert m["qualified_reps"] == "2/3"
    assert m["best_qualified_sec"] == 24.3
    assert m["best_qualified_rows_per_sec"] == pytest.approx(1000.0 / 24.3)
    assert m["sec"] == pytest.approx((24.3 + 57.3) / 2)  # median kept

    # fully degraded window: no qualified rep -> explicit None
    bad = [_crep(10.0, 0, 0.6), _crep(18.0, 5000, 0.6), _crep(20.0, 6000, 0.6)]
    m = benchlib.warm_median(bad, budget_frac=0.05)
    assert m["best_qualified_sec"] is None
    assert m["best_qualified_rows_per_sec"] is None


def test_wait_for_calm_bounded_and_telemetry_free_path(monkeypatch):
    """r9 calm-window waiter: returns 0.0 immediately when steal telemetry
    is absent, respects the max-wait cap when the host never calms, and
    reports ~0 when the first probe is already calm."""
    from np_data_validation_spark import benchlib as B

    # no telemetry -> no wait
    monkeypatch.setattr(B, "_steal_ms", lambda: None)
    assert B.wait_for_calm(max_wait_sec=10, probe_sec=0.01) == 0.0

    # never calm -> capped
    vals = iter(range(0, 10_000_000, 10_000))
    monkeypatch.setattr(B, "_steal_ms", lambda: next(vals))
    w = B.wait_for_calm(max_wait_sec=0.3, probe_sec=0.1)
    assert 0.3 <= w <= 0.6

    # instantly calm -> 0.0
    monkeypatch.setattr(B, "_steal_ms", lambda: 12345)
    assert B.wait_for_calm(max_wait_sec=10, probe_sec=0.01) == 0.0

    # disabled -> 0.0
    assert B.wait_for_calm(max_wait_sec=0) == 0.0


def test_wait_for_calm_process_budget_depletes(monkeypatch):
    """The default cap is a PROCESS-WIDE budget: noisy waiting depletes it
    so a continuously-degraded host costs at most CALM_WAIT_MAX_SEC total
    across all gated reps, and later calls return immediately."""
    from np_data_validation_spark import benchlib as B

    vals = iter(range(0, 10_000_000, 10_000))
    monkeypatch.setattr(B, "_steal_ms", lambda: next(vals))
    monkeypatch.setattr(B, "_CALM_BUDGET_LEFT", 0.25)
    w1 = B.wait_for_calm(probe_sec=0.1)
    assert w1 >= 0.25
    # budget now exhausted -> immediate return
    assert B._CALM_BUDGET_LEFT == 0.0
    assert B.wait_for_calm(probe_sec=0.1) == 0.0
