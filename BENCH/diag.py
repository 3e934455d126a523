"""Scaling diagnostic: phase-level timing of the full validation pass at two
parallelism levels, to isolate which term fails to scale.

Usage: python BENCH/diag.py [--rows 8000000] [--levels 4,16]
Prints one JSON line per level with the phases dict.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = """
import json, sys
sys.path.insert(0, {repo!r})
from np_data_validation_spark import benchlib
from np_data_validation_spark.session import get_spark
cpus = int(sys.argv[1])
spark = get_spark(app_name=f"npdv-diag-{{cpus}}", cpus=cpus,
                  shuffle_partitions=4 * cpus,
                  extra_conf={{
                      "spark.sql.files.maxPartitionBytes": "8m",
                      "spark.driver.memory": f"{{2 * cpus}}g",
                  }})
spark.range(1000).count()
root = benchlib.ensure_bench_data()
best = None
for _ in range(2):
    r = benchlib.run_validation_job(spark, root)
    spark.catalog.clearCache()
    if best is None or r["rows_per_sec"] > best["rows_per_sec"]:
        best = r
print("RESULT " + json.dumps(best))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=8_000_000)
    ap.add_argument("--levels", default="4,16")
    args = ap.parse_args()
    os.environ["NPDV_BENCH_ROWS"] = str(args.rows)
    lv = [int(x) for x in args.levels.split(",")]
    results = {}
    for cpus in lv:
        out = subprocess.run(
            [sys.executable, "-c", WORKER.format(repo=REPO), str(cpus)],
            capture_output=True, text=True, cwd=REPO, env={**os.environ},
            timeout=3600,
        )
        r = None
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                r = json.loads(line[7:])
        if r is None:
            print(f"FAILED cpus={cpus}:\n{out.stderr[-3000:]}")
            continue
        results[cpus] = r
        print(json.dumps({"cpus": cpus, **r}))
    lo, hi = results.get(lv[0]), results.get(lv[1])
    if lo and hi:
        eff = hi["rows_per_sec"] / (lv[1] / lv[0] * lo["rows_per_sec"])
        print(f"EFF: {eff:.3f}")


if __name__ == "__main__":
    main()
