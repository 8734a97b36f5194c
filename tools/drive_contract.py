"""Drive the driver contract cold: plain SparkSession, no engine defaults.

Usage::

    python tools/drive_contract.py [--out CONTRACT_rN.json]

With --out, writes a per-query JSON artifact (name -> {pass, oracle,
seconds, err}) so every round carries a committed proof that the FULL
query surface — not just the driver's 50-query sample — matches the
DuckDB oracle (VERDICT r03 prescription #2).
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

out_path = None
if "--out" in sys.argv:
    out_path = sys.argv[sys.argv.index("--out") + 1]

# --only q1,q2,... : check just the named queries (fast iteration on a
# touched operator; the committed CONTRACT_r{N} artifact must still come
# from a FULL run).
only = None
if "--only" in sys.argv:
    only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

# SPARK_GRAFT_MASTER / SPARK_GRAFT_SHUFFLE override the execution shape
# for the determinism audit: every query must hash-match DuckDB under
# ANY parallelism (deterministic tie-breaks, order-insensitive aggs) —
# run e.g. SPARK_GRAFT_MASTER=local[3] SPARK_GRAFT_SHUFFLE=5.
_builder = SparkSession.builder.master(
    os.environ.get("SPARK_GRAFT_MASTER", "local[8]")
).appName("driver-sim")
if os.environ.get("SPARK_GRAFT_SHUFFLE"):
    _builder = _builder.config(
        "spark.sql.shuffle.partitions", os.environ["SPARK_GRAFT_SHUFFLE"]
    )
spark = _builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# t1 smoke
df = e.entry(spark)
rows = df.collect()
print("SMOKE rows:", len(rows), "schema:", df.columns)
assert len(rows) > 0

# t2: every oracle query at sf0.01, duckdb side-by-side
sys.path.insert(0, os.path.join(REPO, "tests"))
from oracle_harness import compare
qs, osql = e.queries(), e.oracle_sql()
print("queries:", len(qs), "with oracle:", len(osql))
fails = []
results = {}
for name, fn in sorted(qs.items()):
    if only is not None and name not in only:
        continue
    t0 = time.time()
    try:
        sdf = fn(spark, "/root/testdata/sf0.01")
        if name in osql:
            compare(name, sdf, osql[name], "/root/testdata/sf0.01")
            dt = time.time() - t0
            results[name] = {"pass": True, "oracle": True, "seconds": round(dt, 2), "err": None}
            print(f"  OK {name} ({dt:.1f}s)")
        else:
            n = sdf.count()
            dt = time.time() - t0
            results[name] = {"pass": True, "oracle": False, "rows": n, "seconds": round(dt, 2), "err": None}
            print(f"  OK(rows-only) {name} rows={n} ({dt:.1f}s)")
    except AssertionError as ex:
        fails.append(name)
        results[name] = {"pass": False, "oracle": name in osql, "seconds": round(time.time() - t0, 2), "err": str(ex)[:300]}
        print(f"  FAIL {name}: {str(ex)[:200]}")
print("FAILS:", fails)
if out_path:
    summary = {
        "total": len(qs),
        "with_oracle": len(osql),
        "passed": sum(1 for r in results.values() if r["pass"]),
        "failed": len(fails),
        "sf": 0.01,
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print("wrote", out_path)
sys.exit(1 if fails else 0)
