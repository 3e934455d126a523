"""Benchmark driver: headline operator queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The validation pass itself is benchmarked end to end by ``perfbench/``
(see BENCHMARK.json); this script only times the operator queries.

Prints ONE JSON line:
  {"metric": "total_headline_sec", "value": N, "unit": "sec",
   "queries": {...}, "sf": ..., "cpus": ..., "plan_check": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline operator queries (from the driver-contract suite)
HEADLINE = [
    "flagship_verdict_counts",
    "j10_multiway_join",
    "j4_semi_join_valid",
    "a4_rollup_stats",
    "w1_latest_per_key",
    "tx_quality_scores",
    "dd_exact_dup_groups",
    "dd_simhash_values",
    "dd_contamination",
    "dd_dedup_corpus",
    "dd_prepare_corpus",
    "sim_cosine_topk",
    "udf_xxhash_tokens",
]

#: reps per query; rep 0 is codegen-cold and never enters the statistic
QUERY_REPS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    from np_data_validation_spark import queries as Q
    from np_data_validation_spark.plans.signature import check_plan_snapshots
    from np_data_validation_spark.session import get_spark

    # shuffle scratch on tmpfs so disk writeback can't pollute the timings
    # (the session keeps Spark's disk default unless asked)
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("NPDV_LOCAL_DIR", "/dev/shm/npdv_spark_local")
    spark = get_spark(app_name="npdv-bench", cpus=cpus)
    # BENCH_ONLY: timed here but outside the 50-entry driver contract
    # (udf_xxhash_tokens — its twin carries the driver correctness row)
    qs = {**Q.queries(), **Q.BENCH_ONLY}

    # warm the JVM/codegen once with a trivial action
    spark.range(1000).count()

    # Plan-snapshot gate: verify every headline query's physical-plan
    # shape against the committed bench-config snapshot BEFORE timing — a
    # bench number recorded against a silently changed plan is the failure
    # mode the pytest snapshot suite closes for correctness and this closes
    # for performance. On drift the run REFUSES (exit 2) unless
    # NPDV_BENCH_ALLOW_PLAN_DRIFT=1, in which case the emitted JSON carries
    # the loud label instead.
    snap_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "plan_snapshots_bench.json"
    )
    plan_check = check_plan_snapshots(
        spark,
        sf_dir,
        {n: qs[n] for n in HEADLINE},
        snap_path,
        update=bool(os.environ.get("NPDV_UPDATE_BENCH_PLAN_SNAPSHOTS")),
    )
    if os.environ.get("NPDV_UPDATE_BENCH_PLAN_SNAPSHOTS"):
        print(json.dumps({"metric": "bench_plan_snapshots_updated", "path": snap_path}))
        spark.stop()
        return
    if plan_check["status"] == "plan_drift" and not os.environ.get(
        "NPDV_BENCH_ALLOW_PLAN_DRIFT"
    ):
        print(
            json.dumps(
                {
                    "metric": "refused_plan_drift",
                    "value": None,
                    "unit": "sec",
                    "plan_check": plan_check,
                    "hint": "deliberate plan change? regenerate with "
                    "NPDV_UPDATE_BENCH_PLAN_SNAPSHOTS=1 python bench.py; "
                    "or label-and-run with NPDV_BENCH_ALLOW_PLAN_DRIFT=1",
                }
            )
        )
        spark.stop()
        sys.exit(2)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        secs = []
        for _ in range(QUERY_REPS):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            secs.append(time.time() - t0)
        timings[name] = round(statistics.median(secs[1:]), 3)

    print(
        json.dumps(
            {
                "metric": "total_headline_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "plan_check": plan_check["status"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
