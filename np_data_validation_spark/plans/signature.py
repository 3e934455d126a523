"""Physical-plan shape signatures.

A signature is the ordered operator-name list from the formatted explain
of the pre-execution plan, stripped of codegen ids — a stable shape key:
exchanges, join strategies, scans and aggregates all appear by name, while
data-dependent details (paths, sizes, stats) do not. Used two ways:

* tests/test_plan_shapes.py snapshots every driver-contract query at the
  pinned test config, so a plan regression (a lost broadcast, an extra
  exchange, a join-strategy flip) fails pytest;
* bench.py verifies the headline queries against a bench-config snapshot
  BEFORE timing them (``check_plan_snapshots``), so a bench number can
  never be recorded against a silently changed plan.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession


def plan_signature(df: DataFrame) -> list[str]:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    ops = []
    for line in jqe.explainString(mode).splitlines():
        m = re.match(r"^\(\d+\)\s+(.*)$", line.strip())
        if m is None:
            continue
        name = re.sub(r"\s*\[codegen id : \d+\]\s*$", "", m.group(1)).strip()
        ops.append(name)
    return ops


def check_plan_snapshots(
    spark: SparkSession,
    sf_dir: str,
    queries_by_name: dict,
    snap_path: str,
    update: bool = False,
    signature_fn=plan_signature,
) -> dict:
    """Verify the physical-plan shape of each query against a committed
    snapshot BEFORE timing it: a bench number must never be recorded
    against a silently changed plan. Snapshots are config-scoped — plan
    shapes legitimately depend on parallelism, shuffle partitions and the
    input's split count — so a run under a different config reports
    ``config_mismatch`` (the number is labeled, not refused) instead of
    false drift.

    Returns {"status": ok | plan_drift | config_mismatch | updated,
    "mismatched": [names...], ...}. Regenerate deliberately with
    NPDV_UPDATE_BENCH_PLAN_SNAPSHOTS=1 (bench.py exits after writing)."""
    cfg = {
        "sf_dir": sf_dir,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    sigs = {
        name: signature_fn(fn(spark, sf_dir))
        for name, fn in queries_by_name.items()
    }
    if update or not os.path.exists(snap_path):
        with open(snap_path, "w") as f:
            json.dump({"config": cfg, "sigs": sigs}, f, indent=1, sort_keys=True)
        return {"status": "updated", "mismatched": [], "config": cfg}
    with open(snap_path) as f:
        saved = json.load(f)
    if saved.get("config") != cfg:
        return {
            "status": "config_mismatch",
            "mismatched": [],
            "config": cfg,
            "snapshot_config": saved.get("config"),
        }
    mismatched = sorted(
        n for n in sigs if sigs[n] != saved.get("sigs", {}).get(n)
    )
    return {
        "status": "ok" if not mismatched else "plan_drift",
        "mismatched": mismatched,
        "config": cfg,
    }
