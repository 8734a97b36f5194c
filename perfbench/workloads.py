"""The workloads. Each is a fixed job run as a closed loop with one
caller, the same steps in the same order on every run, so that every
run attempts the same operations.

Each workload times its steps with ``ctx.timed()``, which sums their
wall and CPU seconds into ``ctx.work_s`` and ``ctx.cpu_s``; counts
checked operations in ``ctx.attempted`` / ``ctx.failed``; and returns
``info`` (the single steps and workload-specific figures, printed for
people, not gated).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pyarrow.parquet as pq

import checks
import gen
from env import dir_bytes, tree_cpu_s

# sync_bulk: a JSON change backlog on orders and lineitem plus a
# catch-up binlog file on customer, drained in one availableNow
# micro-batch (7 segments + 1 binlog segment = catchup_files_per_trigger's
# default of 8 files); then a fixed number of restart rounds, each
# tailing one small binlog file. The round count is fixed, not timed, so
# every run attempts the same checks; one round keeps a run inside the
# budget (see README).
BULK_EVENTS = 12_000
BULK_SEGMENTS = 7
BULK_WEIGHTS = {"orders": 0.5, "lineitem": 0.5}
CATCHUP_ROWS = 10_000
CATCHUP_ROWS_PER_TXN = 50
ROUNDS = 1
ROUND_ROWS = 1_000
ROUND_ROWS_PER_TXN = 10

# query_mix: the three builders that fire jobs before the action (cdc,
# dedup, graph); they do that work nowhere else, and cdc_incremental_agg
# shares cdc_collapse with the engine's MERGE. Queries of the other
# operator modules are left out to keep a cold pass inside the run
# budget (see README). The order is fixed: the first query of a cold
# session also pays the JIT warm-up, and a shuffled order would move
# that cost between queries from run to run.
MIX = (
    "cdc_incremental_agg",
    "dedup_minhash_lsh",
    "bfs_distances",
)


class Ctx:
    def __init__(self, env, spark, sf_dir, seed, tracer, listener):
        self.env, self.spark, self.sf_dir, self.seed = env, spark, sf_dir, seed
        self.tracer, self.listener = tracer, listener
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.work_s = 0.0
        self.cpu_s = 0.0

    def timed(self) -> "Span":
        return Span(self)

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures += problems
            print("CHECK FAILED: " + "; ".join(problems), file=sys.stderr, flush=True)

    def begin(self):
        return self.tracer.begin() if self.tracer else None

    def end(self, phase: str, token) -> None:
        if self.tracer:
            self.tracer.end(phase, token)


class Span:
    """Wall and CPU seconds of one timed step. On exit both are added to
    the run's totals in ``ctx``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def __enter__(self) -> "Span":
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        self.ctx.work_s += self.s
        self.ctx.cpu_s += self.cpu_s


def _engine_config(root: str, sf_dir: str):
    """One parquet source over the seven TPC-H tables, with a JSON
    changelog dir and a binlog dir under ``root``."""
    from go_cdc_spark.config import EngineConfig, SourceConfig

    for d in ("changelog", "binlogs"):
        os.makedirs(os.path.join(root, d))
    return EngineConfig(
        meta_path=os.path.join(root, "meta"),
        state_dir=os.path.join(root, "state"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        sources=[
            SourceConfig(
                id=1,
                name=gen.SOURCE,
                type="parquet",
                path=sf_dir,
                schema_name=gen.SCHEMA,
                primary_keys=gen.KEYS,
                changelog=os.path.join(root, "changelog"),
                binlog_dir=os.path.join(root, "binlogs"),
                rules={"global": {"include_tables": list(gen.KEYS)}},
            )
        ],
    )


def _demux_rows(progress: list[dict]) -> int:
    return sum(p["rows"] for p in progress if p["name"] == f"{gen.SOURCE}._demux")


def sync_bulk(ctx: Ctx) -> dict:
    """The engine's whole job. Bulk step: ``full_sync`` of the seven
    TPC-H tables, then ``binlog_sync`` decodes a catch-up binlog file on
    ``customer`` and drains it together with a JSON change backlog on
    ``orders`` and ``lineitem``. Rounds: a new ``Engine`` over the same
    dirs (a restart, as a scheduled availableNow run does) picks up one
    new small binlog file, drains it, and reads the round's keys back."""
    from pyspark.sql import functions as F

    from go_cdc_spark.app import Engine

    cfg = _engine_config(ctx.env.path("sync_bulk"), ctx.sf_dir)
    bin_dir = cfg.sources[0].binlog_dir
    changes = gen.ChangeGen(ctx.sf_dir, list(BULK_WEIGHTS), ctx.seed)
    backlog = changes.batch(BULK_EVENTS, start_pos=1_000, weights=BULK_WEIGHTS)
    gen.write_segments([e for e, _ in backlog], cfg.sources[0].changelog, BULK_SEGMENTS, "a")
    binlogs = gen.BinlogGen(ctx.sf_dir, ctx.seed)
    catchup, customer_changes = binlogs.file(CATCHUP_ROWS, CATCHUP_ROWS_PER_TXN, probe_first=False)
    catchup.write(os.path.join(bin_dir, "binlog.000001"))
    snap_rows = sum(pq.read_metadata(f"{ctx.sf_dir}/{t}.parquet").num_rows for t in gen.KEYS)
    cust_key = gen.KEYS["customer"]
    probe = {(gen.BinlogGen.PROBE_KEY,)}

    engine = Engine(cfg, spark=ctx.spark)
    engine.init_sources()
    tok = ctx.begin()
    with ctx.timed() as snap:
        engine.full_sync()
    ctx.end("full_sync", tok)
    snap_s = snap.s
    mark = ctx.listener.mark()
    tok = ctx.begin()
    with ctx.timed() as drain:
        engine.binlog_sync()
    ctx.end("drain", tok)
    drain_s = drain.s
    drained = BULK_EVENTS + len(customer_changes)
    state_mb = dir_bytes(cfg.state_dir) / 1e6
    ctx.listener.settle()
    ctx.check(checks.check_rows_read(
        "drain", _demux_rows(ctx.listener.since(mark)), drained))

    rounds: list[float] = []
    for r in range(2, 2 + ROUNDS):
        f, m = binlogs.file(ROUND_ROWS, ROUND_ROWS_PER_TXN, probe_first=True)
        customer_changes += m
        keys = sorted({c["key"][0] for c in m})
        mark = ctx.listener.mark()
        tok = ctx.begin()
        with ctx.timed() as rnd:
            f.write(os.path.join(bin_dir, f"binlog.{r:06d}"))
            engine = Engine(cfg, spark=ctx.spark)
            engine.init_sources()
            engine.full_sync()
            engine.binlog_sync()
            visible = engine.read_table(1, gen.SCHEMA, "customer").where(
                F.col("c_custkey").isin(keys)).toPandas()
        ctx.end("restart", tok)
        rounds.append(rnd.s)
        ctx.listener.settle()
        # 1: the restarted stream read only the new file's row events
        ctx.check(checks.check_rows_read(
            f"round {r}", _demux_rows(ctx.listener.since(mark)), len(m)))
        # 2: customer, apart from the probe key, is as expected
        got = engine.read_table(1, gen.SCHEMA, "customer").toPandas()
        want = checks.expected_table(ctx.sf_dir, "customer", cust_key, customer_changes)
        ctx.check(checks.compare_tables(
            f"customer after binlog.{r:06d}",
            checks.drop_keys(got, cust_key, probe), checks.drop_keys(want, cust_key, probe)))
        # 3: the probe key shows this file's write; an earlier file wrote
        # it at a higher log_pos (see gen.BinlogGen)
        want_probe = m[0]["row"]["c_name"]
        seen = visible.loc[visible["c_custkey"] == gen.BinlogGen.PROBE_KEY, "c_name"].tolist()
        ctx.check([] if seen == [want_probe] else [
            f"probe key shows {seen}, last written {want_probe!r} in binlog.{r:06d}"])
        # 4: the GTID watermark covers exactly the generated transactions
        ctx.check(checks.check_gtid(
            engine.meta.get_pos(f"{gen.SOURCE}{Engine.BINLOG_NS}"), gen.GTID_SID, binlogs.gtids))

    bulk_changes = [m for _, m in backlog]
    for t in BULK_WEIGHTS:
        got = engine.read_table(1, gen.SCHEMA, t).toPandas()
        want = checks.expected_table(
            ctx.sf_dir, t, gen.KEYS[t], [m for m in bulk_changes if m["table"] == t])
        ctx.check(checks.compare_tables(t, got, want))

    return {
        "info": {
            "snapshot_s": snap_s,
            "snapshot_rows_per_s": snap_rows / snap_s,
            "drain_s": drain_s,
            "drain_events_per_s": drained / drain_s,
            "restart_round_s": statistics.median(rounds),
            "state_mb": state_mb,
        },
    }


def query_mix(ctx: Ctx) -> dict:
    """One pass over ``MIX`` in a fresh session, each query timed from
    its build through ``toPandas()`` and checked against its oracle
    digest."""
    from go_cdc_spark.plans.queries import QUERIES

    digests = checks.load_digests()
    per_query: dict[str, list[float]] = {}
    for name in MIX:
        tb = ctx.begin()
        with ctx.timed() as build:
            df = QUERIES[name](ctx.spark, ctx.sf_dir)
        te = ctx.begin()
        with ctx.timed() as action:
            pdf = df.toPandas()
        if ctx.tracer:
            ctx.tracer.query(name, tb, te, build, action)
        per_query[name] = [build.s, action.s]
        ctx.check(checks.check_query(name, pdf, digests[name]))
    return {
        "info": {f"{n}.build_exec_s": [round(v, 3) for v in be] for n, be in per_query.items()},
    }


WORKLOADS = {"sync_bulk": sync_bulk, "query_mix": query_mix}
