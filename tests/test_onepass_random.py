"""Randomized one-pass vs DuckDB reference equivalence sweep.

The labeled fixture is shaped: every fault class appears, but only in the
combinations synth injects. ADVICE r2 found two real bugs precisely in
shapes the fixture lacked (mixed-identity duplicate groups; null identity
columns through the probe). This sweep generates adversarially dense random
tables — heavy doc_id collisions, null tokens / null n_tok, wrong n_tok,
renamed + cross-content manifest rows, random hash noise — and asserts the
one-pass plan equals the DuckDB reference (tests/duckdb_reference.py) row
for row on rolled verdicts, violations AND stats. Seeds are fixed: failures
reproduce exactly.
"""

from __future__ import annotations

import numpy as np
import pytest

from np_data_validation_spark.functions.hashing import with_tok_hash
from np_data_validation_spark.operators import skew as SK
from np_data_validation_spark.plans import onepass


def _rand_tables(spark, seed: int):
    rng = np.random.default_rng(seed)
    n = 300
    doc_pool = [f"d{i}" for i in range(120)]  # ~2.5x collisions per doc_id
    srcs = ["s1", "s2"]
    rows = []
    for _ in range(n):
        doc = doc_pool[int(rng.integers(len(doc_pool)))]
        src = srcs[int(rng.integers(2))]
        if rng.random() < 0.10:
            toks = None
        else:
            # tiny arrays over a tiny vocab: cross-subject content collisions
            # are common, exercising probe/collision branches hard
            toks = [int(v) for v in rng.integers(0, 50, size=int(rng.integers(1, 6)))]
        r = rng.random()
        if r < 0.15:
            n_tok = None
        elif r < 0.85 and toks is not None:
            n_tok = len(toks)
        else:
            n_tok = int(rng.integers(1, 8))
        rows.append((doc, toks, n_tok, src))
    snap = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )

    hashed = with_tok_hash(snap).select("doc_id", "source", "n_tok", "tok_hash").collect()
    man_rows = []
    for r in hashed:
        if rng.random() < 0.35:
            continue  # missing counterpart
        doc = r["doc_id"] + ("_r" if rng.random() < 0.2 else "")
        src = r["source"] if rng.random() < 0.5 else "s3"
        if rng.random() < 0.8:
            ntk = r["n_tok"]
        else:
            ntk = None if rng.random() < 0.3 else int(rng.integers(1, 8))
        if rng.random() < 0.8:
            h = r["tok_hash"]
        else:
            h = None if rng.random() < 0.3 else int(rng.integers(-(2**40), 2**40))
        man_rows.append((doc, ntk, h, src))
    man = spark.createDataFrame(
        man_rows, "doc_id string, n_tok int, tok_hash long, source string"
    )
    return snap, man


def _key(rows, cols):
    """``rows``: a Spark DataFrame or the reference's list of dict rows."""
    if hasattr(rows, "collect"):
        rows = rows.collect()
    return sorted(tuple((v is None, v) for v in (r[c] for c in cols)) for r in rows)


STATS_COLS = [
    "source", "n_rows", "n_tok_min", "n_tok_max", "n_tok_sum",
    "n_tok_null_rate", "tokens_null_rate", "is_global",
]


@pytest.mark.parametrize("seed", [101, 202, 303, 404])
def test_onepass_equivalence_random(spark, tmp_path, duckdb_outputs, seed):
    snap, man = _rand_tables(spark, seed)
    res = onepass.validate_onepass(spark, snap, man, str(tmp_path / f"w{seed}"))
    ref = duckdb_outputs(snap, man)
    cols = onepass.ROLLED_PUBLIC_COLS
    assert _key(res.rolled, cols) == _key(ref["rolled"], cols)
    vcols = ["doc_id", "source", "violation", "detail"]
    assert _key(res.violations, vcols) == _key(ref["violations"], vcols)
    assert _key(res.stats, STATS_COLS) == _key(ref["stats"], STATS_COLS)
    want_avg = {r["source"]: r["n_tok_avg"] for r in ref["stats"]}
    got_avg = {r["source"]: r["n_tok_avg"] for r in res.stats.collect()}
    assert got_avg == pytest.approx(want_avg, rel=1e-12)


def _mass_dup_tables(spark):
    """A corpus that trips the probe's auto-salting at test scale: one
    subject ('hot','s1') carries 81 distinct identities (a hot rollup key,
    one of them a 40-fold collapsed duplicate), none with a manifest
    doc_id match (big miss set); the manifest carries one content value on
    200 rows (hot probe key with fan-out through the content probe)."""
    from np_data_validation_spark.functions.hashing import with_tok_hash

    rows = [("hot", [i], 1, "s1") for i in range(80)]
    rows += [("hot", [7, 7, 7], 3, "s1")] * 40
    rows += [(f"n{i}", [i, i + 1], 2, "s2") for i in range(40)]
    snap = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    man_rows = [(f"n{i}", [i, i + 1], 2, "s2") for i in range(40)]
    man_rows += [(f"m{j}", [7, 7, 7], 3, "s1") for j in range(200)]
    man = with_tok_hash(
        spark.createDataFrame(
            man_rows, "doc_id string, tokens array<int>, n_tok int, source string"
        )
    ).select("doc_id", "n_tok", "tok_hash", "source")
    return snap, man


def test_auto_salting_full_plan_mass_dup(spark, tmp_path, monkeypatch):
    """End-to-end auto engagement (VERDICT r4 task #7): on a mass-duplicate
    corpus with test-scaled thresholds, validate_onepass must engage the
    salted probe join — and produce exactly the outputs of the broadcast
    probe. The hot rollup key goes through the one rollup aggregation."""
    from np_data_validation_spark.operators import verdicts as V

    snap, man = _mass_dup_tables(spark)
    # reference first, before any patches: default thresholds never trip at
    # this scale, so the probe broadcasts and the rollup stays plain
    ref = onepass.validate_onepass(spark, snap, man, str(tmp_path / "ref"))
    assert ref.probe_salted is False

    orig_detect = SK.detect_hot_keys
    monkeypatch.setattr(
        SK,
        "detect_hot_keys",
        lambda df, keys, **kw: orig_detect(
            df, keys, **{"ratio": 2.0, "min_hot_rows": 40, **kw}
        ),
    )
    monkeypatch.setattr(V, "PROBE_BROADCAST_MAX", 10)  # force the shuffle probe
    res = onepass.validate_onepass(spark, snap, man, str(tmp_path / "salted"))
    assert res.probe_salted is True
    assert res.n_missing == 81  # 80 singleton identities + 1 collapsed dup

    cols = onepass.ROLLED_PUBLIC_COLS
    assert _key(res.rolled, cols) == _key(ref.rolled, cols)
    vcols = ["doc_id", "source", "violation", "detail"]
    assert _key(res.violations, vcols) == _key(ref.violations, vcols)


@pytest.mark.parametrize("seed", [515, 626])
def test_probe_salted_equivalence_random(spark, tmp_path, seed):
    """The salted probe join (manifest-side skew guard) must be
    pair-multiset identical to the plain shuffle join on adversarially
    dense inputs — hash collisions, null hashes, renamed counterparts —
    not just the labeled mass-dup fixture."""
    from np_data_validation_spark.operators import verdicts as V

    snap, man = _rand_tables(spark, seed)
    s1_path = str(tmp_path / f"s1_{seed}")
    onepass.pairs_stage1(snap, man).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)
    forced = V.PROBE_BROADCAST_MAX + 1  # force the shuffle branch
    salted, sflag = onepass.probe_pairs_from(s1, man, n_miss=forced, manifest_hot=True)
    plain, pflag = onepass.probe_pairs_from(s1, man, n_miss=forced, manifest_hot=False)
    assert sflag and not pflag
    cols = onepass.PAIR_COLS
    assert _key(salted, cols) == _key(plain, cols)
