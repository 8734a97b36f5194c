#!/usr/bin/env python
"""Bucketed-base A/B for the top-exponent TPC-H joins (q3/q4/q5, whose
orders ⋈ lineitem shuffles BOTH growing sides): store orders and
lineitem bucketed by orderkey (``bucketBy`` + ``sortBy`` saveAsTable)
and run the IDENTICAL registered query code
over the bucketed tables by swapping the loader the queries call —
same expressions, same plan shape above the scan, only the base layout
differs. Interleaved same-session timing (warm once, then alternate
min-of-N) at sf0.1 and the synthesized 10x corpus, per the repo's A/B
methodology; also prints whether the orderkey join kept or dropped its
Exchanges so the wall-time claim is tied to the plan fact.

Broadcast joins are DISABLED (autoBroadcastJoinThreshold=-1) for the
measurement: at sf0.1 Spark broadcasts lineitem's projected key column
and no orderkey shuffle exists to eliminate, which is precisely NOT the
100 TB regime the bucketed layout targets (lineitem unbroadcastable →
shuffle-heavy SMJ). Disabling broadcast emulates that regime at test
scale; the broadcast numbers are printed once for honesty.

Usage: python tools/bucketed_ab.py [reps]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from go_cdc_spark.operators import relational, tpch  # noqa: E402
from go_cdc_spark.plans.queries import QUERIES  # noqa: E402
from go_cdc_spark.session import get_spark  # noqa: E402
from go_cdc_spark.tables import load  # noqa: E402

NAMES = ["q3_shipping_priority", "q4_order_priority", "q5_local_supplier_volume"]
BUCKETED = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
N_BUCKETS = 32


def register_bucketed(spark, sf_dir: str, tag: str) -> dict[str, str]:
    tables = {}
    for t, key in BUCKETED.items():
        name = f"{t}_b_{tag}"
        path = f"/tmp/bucketed_ab/{tag}/{t}"
        if not spark.catalog.tableExists(name):
            (
                load(spark, sf_dir, t)
                .write.format("parquet")
                .mode("overwrite")
                .option("path", path)
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        tables[t] = name
    return tables


def patched_load(tables: dict[str, str]):
    def _load(spark, sf_dir, name):
        if name in tables:
            return spark.table(tables[name])
        return load(spark, sf_dir, name)

    return _load


def timed(name: str, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark("bucketed-ab")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_probe import synthesize

    sfx10 = synthesize(spark, 10)
    results = {}
    for tag, sf_dir in [("sf01", "/root/testdata/sf0.1"), ("x10", sfx10)]:
        tables = register_bucketed(spark, sf_dir, tag)
        variants = {
            "plain": load,
            "bucketed": patched_load(tables),
        }
        for q in NAMES:
            for vname, loader in variants.items():
                tpch.load = relational.load = loader
                print(
                    f"{tag} {q} {vname}: exchanges="
                    f"{n_exchanges(QUERIES[q](spark, sf_dir))}"
                )
        times = {q: {v: [] for v in variants} for q in NAMES}
        for q in NAMES:  # warm each variant once
            for vname, loader in variants.items():
                tpch.load = relational.load = loader
                timed(q, spark, sf_dir)
        for _ in range(reps):
            for q in NAMES:
                for vname, loader in variants.items():
                    tpch.load = relational.load = loader
                    times[q][vname].append(timed(q, spark, sf_dir))
        tpch.load = relational.load = load
        for q in NAMES:
            row = {v: round(min(ts), 3) for v, ts in times[q].items()}
            results.setdefault(q, {})[tag] = row
            print(f"{tag} {q}: {row}")
    print("\n=== summary (min-of-%d, interleaved) ===" % reps)
    for q, r in results.items():
        e_plain = math.log(r["x10"]["plain"] / r["sf01"]["plain"]) / math.log(10)
        e_buck = math.log(r["x10"]["bucketed"] / r["sf01"]["bucketed"]) / math.log(10)
        print(
            f"{q}: sf0.1 plain={r['sf01']['plain']}s bucketed={r['sf01']['bucketed']}s"
            f" | x10 plain={r['x10']['plain']}s bucketed={r['x10']['bucketed']}s"
            f" | exp plain={e_plain:+.2f} bucketed={e_buck:+.2f}"
        )


if __name__ == "__main__":
    main()
