#!/usr/bin/env python3
"""Rebuild perfbench/oracle_digests.json from DuckDB: run each query of
the ``query_mix`` workload's ORACLE SQL over the sf0.1 tables and store
its result digest (columns, row count, sha256 of the canonical sorted
rows). Run it when the data or an oracle changes::

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.dont_write_bytecode = True

import checks  # noqa: E402
from workloads import MIX  # noqa: E402

from go_cdc_spark.plans.queries import ORACLE  # noqa: E402


def main() -> None:
    sf_dir = checks.sf_dir()
    out = {}
    for name in MIX:
        pdf = checks.oracle_frame(ORACLE[name], sf_dir)
        if pdf.empty:
            raise SystemExit(f"{name}: oracle returns no rows at {sf_dir}; it would check nothing")
        out[name] = checks.result_digest(pdf)
        print(name, out[name]["rows"], out[name]["sha256"][:12], flush=True)
    with open(checks.DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
