"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count +
column names + order-insensitive value hash. Usage:

    python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: Every by-design rows-only query (no DuckDB-expressible oracle) MUST name
#: an oracle-checked TWIN that value-gates the same computation; the checker
#: fails if a twin goes red or a new rows-only query appears without one —
#: so the by-design gaps can't silently widen (VERDICT r3 #7).
NO_ORACLE_TWINS = {
    # EMPTY — every registered driver query carries a DuckDB value oracle.
    # The rows-only ANN and HLL variants are deleted (their registered
    # twins are ann_lsh_topk_portable and hll_distinct_check);
    # udf_xxhash_tokens stays unregistered, bench-timed via
    # queries.BENCH_ONLY, and its kernel is value-checked by the
    # registered udf_xxhash_golden.
}


def value_hash(df) -> str:
    cols = sorted(df.columns)
    sub = df[cols].copy()
    rows = sorted(
        tuple(str(v) for v in row) for row in sub.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from np_data_validation_spark import queries as Q
    from np_data_validation_spark.session import get_spark

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    only = set(sys.argv[1:])
    qs, oracles = Q.queries(), Q.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_vals = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK  " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{status} {name}: rows {len(sdf)}/{len(odf)} cols={ok_cols} "
            f"vals={ok_vals}  ({time.time()-t0:.1f}s)"
        )
        if not ok_cols:
            print(f"     spark cols: {sorted(sdf.columns)}")
            print(f"     duck  cols: {sorted(odf.columns)}")
        elif not ok_vals and ok_rows:
            merged = sdf.sort_values(sorted(sdf.columns)).reset_index(drop=True).compare(
                odf[sdf.columns].sort_values(sorted(sdf.columns)).reset_index(drop=True)
            ) if len(sdf) == len(odf) else None
            if merged is not None and not merged.empty:
                print(merged.head(5))
    spark.stop()

    # twin enforcement for the rows-only queries (skipped under a name
    # filter that excludes either half of a pair)
    ran = set(qs) if not only else {n for n in qs if n in only}
    for name in sorted(set(qs) - set(oracles)):
        if name not in ran:
            continue
        twin = NO_ORACLE_TWINS.get(name)
        if twin is None:
            failures.append(name)
            print(f"FAIL {name}: rows-only query with NO declared oracle twin "
                  f"(add one to NO_ORACLE_TWINS or an oracle_sql entry)")
        elif twin not in qs or twin not in oracles:
            failures.append(name)
            print(f"FAIL {name}: declared twin {twin!r} missing from "
                  f"queries()/oracle_sql()")
        elif twin in ran and twin in failures:
            failures.append(name)
            print(f"FAIL {name}: oracle twin {twin!r} is red")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
