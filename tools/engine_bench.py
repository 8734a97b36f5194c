#!/usr/bin/env python
"""End-to-end ENGINE throughput — the reference's actual job, as one
number per phase (VERDICT r8 prescription #4).

The reference (go-cdc) is snapshot → binlog tail → materialize; the
per-query bench times analytics and tools/stream_bench.py times the
bare apply path, but nothing timed the whole engine loop. This does:

1. **full_sync** at $SPARK_GRAFT_SF_DIR (default sf0.1): discovery +
   filter + bounded-parallel per-table snapshot + typed-state
   materialization for 7 TPC-H tables (incl. lineitem's composite PK) —
   rows/s over the total snapshot volume.
2. **incremental drain**: N synthetic change events (insert/update/
   delete mix) over the customer table, split into segments, drained
   via availableNow foreachBatch MERGE — events/s including every
   state rewrite and checkpoint commit.
3. **restart recovery**: a NEW Engine over the same meta/state/ckpt
   dirs (process-crash analog), draining a small follow-up segment —
   seconds from boot to drained, proving checkpoint reuse (no
   re-snapshot, no double-apply).
4. **readback**: cdc_latest-style read_table() counts verified against
   the expected key universe.

Prints ONE JSON line. Usage: python tools/engine_bench.py [n_events]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_cdc_spark.app import Engine  # noqa: E402
from go_cdc_spark.config import load_config  # noqa: E402
from go_cdc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
N_RESTART_EVENTS = 2_000
TABLES = {
    # table -> PK columns (lineitem exercises the composite-key path)
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    # (l_orderkey, l_linenumber) is not unique in the generated data;
    # these five columns are
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate"],
}


def _write_config(root: str, changelog_dir: str) -> str:
    pk_lines = "\n".join(
        f'{t} = [{", ".join(repr(c) for c in cols)}]' for t, cols in TABLES.items()
    )
    include = ", ".join(repr(t) for t in TABLES)
    cfg = f"""
[engine]
meta_path      = "{root}/meta"
state_dir      = "{root}/state"
checkpoint_dir = "{root}/ckpt"

[[source]]
id        = 1
name      = "bench"
type      = "parquet"
path      = "{SF_DIR}"
changelog = "{changelog_dir}"
[source.primary_keys]
{pk_lines}
[source.rules.global]
include_tables = [{include}]
"""
    p = os.path.join(root, "config.toml")
    with open(p, "w") as f:
        f.write(cfg)
    return p


def _customer_events(
    start_pos: int, n: int, n_keys: int, live: set[int] | None = None
) -> list[dict]:
    """insert/update/update/delete mix over a bounded key universe,
    keys ABOVE the snapshot's custkey range so expected live-count
    arithmetic is exact. ``live`` carries the key state ACROSS windows
    (the restart window must know window 1's live keys, or its op
    adjustment diverges from the materialized state)."""
    live = set() if live is None else live
    out = []
    for i in range(n):
        pos = start_pos + i
        key = 10_000_000 + (i * 2654435761) % n_keys
        op = ("insert", "update", "update", "delete")[i % 4]
        if op in ("update", "delete") and key not in live:
            op = "insert"
        if op == "delete":
            live.discard(key)
            data, before = None, {"c_custkey": str(key)}
        else:
            live.add(key)
            data, before = {
                "c_custkey": str(key),
                "c_name": f"Customer#{pos}",
                "c_address": "addr",
                "c_nationkey": str(key % 25),
                "c_phone": "00-000",
                "c_acctbal": str(float(i % 1000)),
                "c_mktsegment": "BUILDING",
                "c_comment": "synthetic",
            }, None
        out.append(
            {
                "data_source": "bench",
                "schema": "main",
                "table": "customer",
                "op": op,
                "data": data,
                "before": before,
                "ts": None,
                "pos": str(pos).zfill(12),
                "txn_id": None,
            }
        )
    out.append({"__live": sorted(live)})  # sentinel row, stripped by caller
    return out


def _write_segments(events: list[dict], seg_dir: str, n_segments: int, prefix: str):
    live = events.pop()["__live"]
    per = max(1, len(events) // n_segments)
    for s in range(0, len(events), per):
        with open(os.path.join(seg_dir, f"{prefix}{s:08d}.json"), "w") as f:
            for e in events[s : s + per]:
                f.write(json.dumps(e) + "\n")
    return live


def run(spark, n_events: int = None, sf_dir: str = None) -> dict:
    """Run the whole engine loop once and return the report dict
    (no printing, no guard) — importable by bench.py so the driver's
    BENCH_r{N}.json tail carries the engine numbers (VERDICT r9 #7)."""
    global N_EVENTS, SF_DIR
    if n_events is not None:
        N_EVENTS = n_events
    if sf_dir is not None:
        SF_DIR = sf_dir
    root = tempfile.mkdtemp(prefix="engine_bench_")
    seg_dir = os.path.join(root, "changelog")
    os.makedirs(seg_dir)
    cfg_path = _write_config(root, seg_dir)
    report: dict = {"metric": "engine_end_to_end", "sf_dir": SF_DIR}

    # --- phase 1: full sync ------------------------------------------------
    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    t0 = time.perf_counter()
    snaps = engine.full_sync()
    full_s = time.perf_counter() - t0
    assert all(s.error is None for s in snaps[1]), [s.error for s in snaps[1]]
    snap_rows = sum(
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count() for t in TABLES
    )
    report["full_sync"] = {
        "tables": len(TABLES),
        "rows": snap_rows,
        "seconds": round(full_s, 2),
        "rows_per_s": int(snap_rows / full_s),
    }

    # --- phase 2: incremental drain -----------------------------------------
    key_state: set[int] = set()
    ev = _customer_events(1, N_EVENTS, n_keys=N_EVENTS // 5, live=key_state)
    _write_segments(ev, seg_dir, n_segments=8, prefix="a")
    t0 = time.perf_counter()
    engine.incremental_sync()
    inc_s = time.perf_counter() - t0
    report["incremental"] = {
        "events": N_EVENTS,
        "segments": 8,
        "seconds": round(inc_s, 2),
        "events_per_s": int(N_EVENTS / inc_s),
    }

    # --- phase 3: restart recovery ------------------------------------------
    ev2 = _customer_events(
        N_EVENTS + 1, N_RESTART_EVENTS, n_keys=N_EVENTS // 5, live=key_state
    )
    _write_segments(ev2, seg_dir, n_segments=1, prefix="b")
    t0 = time.perf_counter()
    engine2 = Engine(load_config(cfg_path), spark=spark)
    engine2.init_sources()
    engine2.full_sync()  # must detect existing state, not re-snapshot
    engine2.incremental_sync()
    restart_s = time.perf_counter() - t0
    report["restart_recovery"] = {
        "follow_up_events": N_RESTART_EVENTS,
        "seconds": round(restart_s, 2),
    }

    # --- phase 4: readback (cdc_latest semantics) -----------------------------
    base_customers = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    expect_live = len(key_state)  # threaded through both event windows
    t0 = time.perf_counter()
    got = engine2.read_table(1, "main", "customer").count()
    read_s = time.perf_counter() - t0
    assert got == base_customers + expect_live, (got, base_customers, expect_live)
    report["readback"] = {
        "rows": got,
        "seconds": round(read_s, 2),
        "verified": True,
    }
    # --- phase 5: query-based polling capture (live Derby; VERDICT r10 #1) ---
    # Reported OUTSIDE `value` so the cross-round regression guard keeps
    # comparing the same 3-phase sum it always has.
    try:
        report["polling_capture"] = _polling_capture_phase(spark, root)
    except Exception as exc:  # noqa: BLE001 — optional phase, never fatal
        report["polling_capture"] = {"error": str(exc)[:200]}
    # --- phase 6: incrementing-mode polling (O(delta); VERDICT r11 #2) ---
    try:
        report["polling_incrementing"] = _polling_incrementing_phase(spark, root)
    except Exception as exc:  # noqa: BLE001 — optional phase, never fatal
        report["polling_incrementing"] = {"error": str(exc)[:200]}
    # --- phase 7: timestamp+incrementing polling (VERDICT r12 #3) ---
    try:
        report["polling_timestamp"] = _polling_timestamp_phase(spark, root)
    except Exception as exc:  # noqa: BLE001 — optional phase, never fatal
        report["polling_timestamp"] = {"error": str(exc)[:200]}
    # --- phase 8: binlog wire-format decode (VERDICT r12 #1) ---
    try:
        report["binlog_decode"] = _binlog_decode_phase(spark, root)
    except Exception as exc:  # noqa: BLE001 — optional phase, never fatal
        report["binlog_decode"] = {"error": str(exc)[:200]}
    report["value"] = round(full_s + inc_s + restart_s, 2)
    report["unit"] = "sec"
    shutil.rmtree(root, ignore_errors=True)
    return report


POLL_ROWS = 20_000


def _polling_capture_phase(spark, root: str) -> dict:
    """snapshot → set-based INSERT/UPDATE/DELETE in embedded Derby →
    keydiff poll → streaming drain → exact readback, timed end-to-end.
    The table is Spark-written (distributed JDBC append), mutations are
    three set-based SQL statements, and the poll is the O(table)
    fingerprint diff — the capture mode that sees hard deletes."""
    url = f"jdbc:derby:{root}/polldb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE APP.POLLED (K INT NOT NULL PRIMARY KEY, "
        "NAME VARCHAR(30), BAL DOUBLE)"
    )
    from pyspark.sql import functions as F

    spark.range(1, POLL_ROWS + 1).select(
        F.col("id").cast("int").alias("K"),
        F.concat(F.lit("name"), F.col("id")).alias("NAME"),
        (F.col("id") * 1.25).alias("BAL"),
    ).write.mode("append").jdbc(url, "APP.POLLED", properties={"driver": driver})

    cfg = f"""
[engine]
meta_path      = "{root}/poll_meta"
state_dir      = "{root}/poll_state"
checkpoint_dir = "{root}/poll_ckpt"

[[source]]
id        = 1
name      = "pollsrc"
type      = "jdbc_metadata"
url       = "{url}"
changelog = "{root}/poll_changelog"
capture   = "keydiff"
[source.properties]
driver = "{driver}"
[source.rules.global]
include_tables = ["POLLED"]
"""
    cfg_path = os.path.join(root, "poll_config.toml")
    with open(cfg_path, "w") as f:
        f.write(cfg)
    os.makedirs(os.path.join(root, "poll_changelog"), exist_ok=True)

    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    t0 = time.perf_counter()
    engine.capture_seed()
    engine.full_sync()
    snap_s = time.perf_counter() - t0

    # set-based mutations: update 20%, delete 10%, insert 5%
    st.executeUpdate("UPDATE APP.POLLED SET BAL = BAL + 1.5 WHERE MOD(K, 5) = 0")
    st.executeUpdate("DELETE FROM APP.POLLED WHERE MOD(K, 10) = 1")
    st.executeUpdate(
        "INSERT INTO APP.POLLED "
        f"SELECT K + {POLL_ROWS}, NAME, BAL FROM APP.POLLED WHERE MOD(K, 20) = 2"
    )
    t0 = time.perf_counter()
    polled = engine.capture_poll()
    poll_only_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    engine.incremental_sync()
    drain_s = time.perf_counter() - t0
    poll_s = poll_only_s + drain_s
    n_events = sum(polled.values())

    rs = st.executeQuery("SELECT COUNT(*) FROM APP.POLLED")
    rs.next()
    want = rs.getInt(1)
    got = engine.read_table(1, "APP", "POLLED").count()
    conn.close()
    assert got == want, (got, want)
    return {
        "mode": "keydiff",
        "table_rows": want,
        "snapshot_seconds": round(snap_s, 2),
        "change_events": n_events,
        "poll_seconds": round(poll_only_s, 2),
        "drain_seconds": round(drain_s, 2),
        "poll_and_drain_seconds": round(poll_s, 2),
        "events_per_s": int(n_events / poll_s) if poll_s > 0 else None,
        "readback_verified": True,
    }


def _polling_incrementing_phase(spark, root: str) -> dict:
    """The O(delta) capture path (VERDICT r11 #2): high-watermark
    polling over a monotonic version column against live Derby — the
    throughput-critical loop the reference runs as its binlog tail
    (`internal/cannal/incremental.go:69-178`). Snapshot → set-based
    UPDATE/INSERT bumping versions → timed poll (only the delta
    crosses the wire) → timed streaming drain → exact readback.
    Poll and drain are timed separately so the fixed-overhead floor
    (availableNow stream startup vs per-event work) is visible."""
    url = f"jdbc:derby:{root}/pollincdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE APP.FACTS (K INT NOT NULL PRIMARY KEY, "
        "NAME VARCHAR(30), BAL DOUBLE, V BIGINT)"
    )
    from pyspark.sql import functions as F

    spark.range(1, POLL_ROWS + 1).select(
        F.col("id").cast("int").alias("K"),
        F.concat(F.lit("name"), F.col("id")).alias("NAME"),
        (F.col("id") * 1.25).alias("BAL"),
        F.col("id").alias("V"),  # versions 1..POLL_ROWS
    ).write.mode("append").jdbc(url, "APP.FACTS", properties={"driver": driver})

    cfg = f"""
[engine]
meta_path      = "{root}/pinc_meta"
state_dir      = "{root}/pinc_state"
checkpoint_dir = "{root}/pinc_ckpt"

[[source]]
id        = 1
name      = "pincsrc"
type      = "jdbc_metadata"
url       = "{url}"
changelog = "{root}/pinc_changelog"
capture   = "incrementing"
[source.properties]
driver = "{driver}"
[source.capture_tables.FACTS]
version_col = "V"
[source.rules.global]
include_tables = ["FACTS"]
"""
    cfg_path = os.path.join(root, "pinc_config.toml")
    with open(cfg_path, "w") as f:
        f.write(cfg)
    os.makedirs(os.path.join(root, "pinc_changelog"), exist_ok=True)

    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    t0 = time.perf_counter()
    engine.capture_seed()
    engine.full_sync()
    snap_s = time.perf_counter() - t0

    # set-based version-advancing mutations: update 20%, insert 5%
    st.executeUpdate(
        f"UPDATE APP.FACTS SET BAL = BAL + 1.5, V = K + {POLL_ROWS} "
        "WHERE MOD(K, 5) = 0"
    )
    st.executeUpdate(
        "INSERT INTO APP.FACTS "
        f"SELECT K + {POLL_ROWS}, NAME, BAL, K + {2 * POLL_ROWS} "
        "FROM APP.FACTS WHERE MOD(K, 20) = 2"
    )
    t0 = time.perf_counter()
    polled = engine.capture_poll()
    poll_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    engine.incremental_sync()
    drain_s = time.perf_counter() - t0
    n_events = sum(polled.values())

    rs = st.executeQuery("SELECT COUNT(*) FROM APP.FACTS")
    rs.next()
    want = rs.getInt(1)
    got = engine.read_table(1, "APP", "FACTS").count()
    conn.close()
    assert got == want, (got, want)
    total = poll_s + drain_s
    return {
        "mode": "incrementing",
        "table_rows": want,
        "snapshot_seconds": round(snap_s, 2),
        "change_events": n_events,
        "poll_seconds": round(poll_s, 2),
        "drain_seconds": round(drain_s, 2),
        "poll_and_drain_seconds": round(total, 2),
        "events_per_s": int(n_events / total) if total > 0 else None,
        "readback_verified": True,
    }


def _polling_timestamp_phase(spark, root: str) -> dict:
    """timestamp+incrementing capture (VERDICT r12 #3) against live
    Derby: the composite (LAST_MOD, SEQ) watermark — the realistic
    last-modified-column shape — with the same timed poll/drain split
    as the incrementing phase."""
    url = f"jdbc:derby:{root}/polltsdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE APP.EVENTS (K INT NOT NULL PRIMARY KEY, "
        "NAME VARCHAR(30), BAL DOUBLE, LAST_MOD TIMESTAMP, SEQ BIGINT)"
    )
    from pyspark.sql import functions as F

    spark.range(1, POLL_ROWS + 1).select(
        F.col("id").cast("int").alias("K"),
        F.concat(F.lit("name"), F.col("id")).alias("NAME"),
        (F.col("id") * 1.25).alias("BAL"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000
        ).alias("LAST_MOD"),
        F.col("id").alias("SEQ"),
    ).write.mode("append").jdbc(url, "APP.EVENTS", properties={"driver": driver})

    cfg = f"""
[engine]
meta_path      = "{root}/pts_meta"
state_dir      = "{root}/pts_state"
checkpoint_dir = "{root}/pts_ckpt"

[[source]]
id        = 1
name      = "ptssrc"
type      = "jdbc_metadata"
url       = "{url}"
changelog = "{root}/pts_changelog"
capture   = "timestamp"
[source.properties]
driver = "{driver}"
[source.capture_tables.EVENTS]
timestamp_col = "LAST_MOD"
incrementing_col = "SEQ"
[source.rules.global]
include_tables = ["EVENTS"]
"""
    cfg_path = os.path.join(root, "pts_config.toml")
    with open(cfg_path, "w") as f:
        f.write(cfg)
    os.makedirs(os.path.join(root, "pts_changelog"), exist_ok=True)

    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    t0 = time.perf_counter()
    engine.capture_seed()
    engine.full_sync()
    snap_s = time.perf_counter() - t0

    # set-based last-modified-advancing mutations: update 20%, insert 5%
    st.executeUpdate(
        "UPDATE APP.EVENTS SET BAL = BAL + 1.5, "
        "LAST_MOD = TIMESTAMP('2024-06-01 00:00:00'), "
        f"SEQ = K + {POLL_ROWS} WHERE MOD(K, 5) = 0"
    )
    st.executeUpdate(
        "INSERT INTO APP.EVENTS "
        f"SELECT K + {POLL_ROWS}, NAME, BAL, "
        "TIMESTAMP('2024-06-01 00:00:01'), "
        f"K + {2 * POLL_ROWS} FROM APP.EVENTS WHERE MOD(K, 20) = 2"
    )
    t0 = time.perf_counter()
    polled = engine.capture_poll()
    poll_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    engine.incremental_sync()
    drain_s = time.perf_counter() - t0
    n_events = sum(polled.values())

    rs = st.executeQuery("SELECT COUNT(*) FROM APP.EVENTS")
    rs.next()
    want = rs.getInt(1)
    got = engine.read_table(1, "APP", "EVENTS").count()
    conn.close()
    assert got == want, (got, want)
    total = poll_s + drain_s
    return {
        "mode": "timestamp+incrementing",
        "table_rows": want,
        "snapshot_seconds": round(snap_s, 2),
        "change_events": n_events,
        "poll_seconds": round(poll_s, 2),
        "drain_seconds": round(drain_s, 2),
        "poll_and_drain_seconds": round(total, 2),
        "events_per_s": int(n_events / total) if total > 0 else None,
        "readback_verified": True,
    }


def _binlog_decode_phase(spark, root: str) -> dict:
    """Binlog wire-format path (VERDICT r12 #1): synthesize a binary
    binlog (CRC32, GTID-per-txn, 50-row WRITE_ROWS statements), time
    the pure-Python decode → changelog segment, then the distributed
    drain → exact readback. decode_events_per_s is the single-core
    CAPTURE bound (the replication-socket analog); the apply side
    stays distributed."""
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import types as T

    from go_cdc_spark.sources.binlog import binlog_to_changelog
    from go_cdc_spark.streaming.pipeline import (
        StreamingMaterializer,
        read_changelog_stream,
    )
    from tests.binlog_fixture import (
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_NEWDECIMAL,
        MYSQL_TYPE_VARCHAR,
        BinlogWriter,
        Col,
    )

    n_rows = 50_000
    cols = [
        Col("id", MYSQL_TYPE_LONGLONG),
        Col("name", MYSQL_TYPE_VARCHAR, 64),
        Col("balance", MYSQL_TYPE_NEWDECIMAL, (12, 2)),
    ]
    t0 = time.perf_counter()
    w = BinlogWriter()
    w.table_map(5, "bank", "accounts", cols, pk=[0])
    gno = 0
    for start in range(1, n_rows + 1, 50):
        gno += 1
        w.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", gno)
        w.write_rows(5, [
            {"id": k, "name": f"acct{k}", "balance": f"{k}.25"}
            for k in range(start, min(start + 50, n_rows + 1))
        ])
        w.xid(gno)
    binlog_path = os.path.join(root, "binlog.000001")
    w.write(binlog_path)
    synth_s = time.perf_counter() - t0
    size_mb = os.path.getsize(binlog_path) / 1e6

    changelog = os.path.join(root, "binlog_changelog")
    os.makedirs(changelog, exist_ok=True)
    t0 = time.perf_counter()
    n_events = binlog_to_changelog(binlog_path, changelog, "binsrc")
    decode_s = time.perf_counter() - t0

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DecimalType(12, 2)),
    ])
    mat = StreamingMaterializer(
        spark, spark.createDataFrame([], schema), ["id"],
        os.path.join(root, "binlog_state"),
    )
    t0 = time.perf_counter()
    q = mat.start(
        read_changelog_stream(spark, changelog, 100),
        os.path.join(root, "binlog_ckpt"),
    )
    q.awaitTermination()
    drain_s = time.perf_counter() - t0
    got = mat.read_table().count()
    assert got == n_rows, (got, n_rows)
    return {
        "rows": n_rows,
        "change_events": n_events,
        "binlog_mb": round(size_mb, 1),
        "synth_seconds": round(synth_s, 2),
        "decode_seconds": round(decode_s, 2),
        "decode_events_per_s": int(n_events / decode_s) if decode_s else None,
        "drain_seconds": round(drain_s, 2),
        "end_to_end_events_per_s": int(n_events / (decode_s + drain_s)),
        "readback_verified": True,
    }


def main() -> None:
    report = run(get_spark("engine-bench"))
    print(json.dumps(report))
    _regression_guard(report)


_HISTORY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ENGINE_BENCH.jsonl",
)


def _regression_guard(report: dict) -> None:
    """Append this run to ENGINE_BENCH.jsonl and exit non-zero if the
    end-to-end total regressed >1.5x vs the median of prior runs at the
    same sf/N — the engine-loop analog of bench.py's per-query gate."""
    priors = []
    if os.path.exists(_HISTORY):
        with open(_HISTORY) as f:
            for line in f:
                try:
                    p = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if (
                    p.get("sf_dir") == report["sf_dir"]
                    and p.get("incremental", {}).get("events")
                    == report["incremental"]["events"]
                ):
                    priors.append(p["value"])
    with open(_HISTORY, "a") as f:
        f.write(json.dumps(report) + "\n")
    if priors:
        med = sorted(priors)[len(priors) // 2]
        if report["value"] / med > 1.5:
            print(
                f"ENGINE REGRESSION: {report['value']}s vs median {med}s",
                file=sys.stderr,
            )
            sys.exit(1)


if __name__ == "__main__":
    main()
