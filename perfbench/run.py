#!/usr/bin/env python3
"""End-to-end benchmark of the CDC engine and the query surface.

Usage (from anywhere; paths resolve from this file)::

    python3 perfbench/run.py --workload sync_bulk --seed 1 --seconds 30 --trace 0

Workloads: ``sync_bulk`` and ``query_mix`` (see perfbench/README.md).
The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer ones. Exits 2 without a
result when the program or its data is absent.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def _preflight() -> str:
    """Check that the program and its sf0.1 tables are there; returns
    the tables' directory."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, CHECKOUT)
    try:
        import __spark_entry__  # noqa: F401  (imports the query surface)
        import go_cdc_spark.app  # noqa: F401
    except ImportError as exc:
        _fail(f"cannot import the program from {CHECKOUT}: {exc}")
    import checks

    sf_dir = checks.sf_dir()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"):
        if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            _fail(f"missing input table {t}.parquet under {sf_dir}")
    return sf_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("sync_bulk", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    # Both workloads are fixed jobs (whole rounds, a fixed count), so
    # every run attempts the same operations; the measured part takes
    # about --seconds on a 4-core host and is never cut short.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sf_dir = _preflight()

    import env as benv
    import tracing
    import workloads

    env = benv.BenchEnv(CHECKOUT)
    try:
        result = run(args, sf_dir, env, benv, tracing, workloads)
    finally:
        env.close()
        os.chdir(CHECKOUT)
        shutil.rmtree(env.root, ignore_errors=True)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)


def run(args, sf_dir, env, benv, tracing, workloads) -> dict:
    t_setup = time.perf_counter()
    setup_s = env.setup(sf_dir)
    t_setup = time.perf_counter() - t_setup
    spark = env.spark
    listener = tracing.ProgressListener()
    spark.streams.addListener(listener)
    tracer = tracing.Tracer(spark, listener) if args.trace else None
    ctx = workloads.Ctx(env, spark, sf_dir, args.seed, tracer, listener)
    pids = [os.getpid()] + [p for p in [env.jvm_pid()] if p]
    t0 = time.perf_counter()
    with benv.RssSampler(pids) as rss:
        out = workloads.WORKLOADS[args.workload](ctx)
    wall = time.perf_counter() - t0
    if tracer:
        tracer.close()
    info = {k: (round(v, 4) if isinstance(v, float) else v) for k, v in out["info"].items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "wall_s": round(wall, 2),
                      "setup_wall_s": round(t_setup, 2), "work_s": round(ctx.work_s, 4), "since_start_s": round(time.perf_counter() - T_START, 2),
                      "failures": ctx.failures[:5], **info}), flush=True)
    if args.trace:
        names = tracing.per_layer_names(list(workloads.MIX))
        metrics = tracer.metrics(names)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_kb / 1024, "unit": "MB"},
            "cpu_s": {"value": ctx.cpu_s, "unit": "s"},
        }
    return {
        "correct": True,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    main()
