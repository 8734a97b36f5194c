"""Boot-sequence integration (`cmd/cdc/main.go` analog): a TOML config
file drives source registration, full sync, changelog drain, and the
handoff rule — asserting final table state AND checkpoint contents.
Plus the restart policy's backoff/give-up behavior (`incremental.go:100-114`).
"""

from __future__ import annotations

import json

import pytest

from go_cdc_spark.app import Engine, run
from go_cdc_spark.config import load_config
from go_cdc_spark.sources.meta import CheckpointStore
from go_cdc_spark.streaming.restart import (
    RestartPolicy,
    RetriesExhausted,
    run_with_restart,
)

SF = "/root/testdata/sf0.001"


def _write_config(tmp_path, changelog_dir) -> str:
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id        = 1
name      = "dev"
type      = "parquet"
path      = "{SF}"
changelog = "{changelog_dir}"
[source.primary_keys]
region = ["r_regionkey"]
nation = ["n_nationkey"]
[source.rules.global]
include_tables = ["region", "nation"]
"""
    p = tmp_path / "config.toml"
    p.write_text(cfg)
    return str(p)


def _event(pos, op, data, before=None, table="region"):
    return {
        "data_source": "dev",
        "schema": "main",
        "table": table,
        "op": op,
        "data": data,
        "before": before,
        "ts": None,
        "pos": str(pos).zfill(12),
        "txn_id": None,
    }


def test_config_loader_validates(tmp_path):
    p = tmp_path / "bad.toml"
    p.write_text('[engine]\nmeta_path = "x"\n')
    with pytest.raises(ValueError, match="state_dir"):
        load_config(str(p))
    p2 = tmp_path / "dup.toml"
    p2.write_text(
        '[engine]\nmeta_path="m"\nstate_dir="s"\ncheckpoint_dir="c"\n'
        '[[source]]\nid=1\nname="a"\n[[source]]\nid=1\nname="b"\n'
    )
    with pytest.raises(ValueError, match="duplicate"):
        load_config(str(p2))
    # debezium-only topic dirs on a native source must be rejected at
    # load time (the native branch never unions them — a read_committed
    # source would otherwise silently never see its commits)
    p3 = tmp_path / "native_txn.toml"
    p3.write_text(
        '[engine]\nmeta_path="m"\nstate_dir="s"\ncheckpoint_dir="c"\n'
        '[[source]]\nid=1\nname="a"\ntxn_changelog="/tmp/txn"\n'
    )
    with pytest.raises(ValueError, match="txn_changelog requires"):
        load_config(str(p3))
    p4 = tmp_path / "native_schema.toml"
    p4.write_text(
        '[engine]\nmeta_path="m"\nstate_dir="s"\ncheckpoint_dir="c"\n'
        '[[source]]\nid=1\nname="a"\nschema_changelog="/tmp/ddl"\n'
    )
    with pytest.raises(ValueError, match="schema_changelog requires"):
        load_config(str(p4))


def test_jdbc_dsn_assembly():
    from go_cdc_spark.config import SourceConfig

    s = SourceConfig(id=2, name="db", type="jdbc", host="h", database="d", user="u", password="p")
    assert s.dsn() == "jdbc:mysql://h:3306/d"
    assert s.jdbc_properties() == {"user": "u", "password": "p"}
    with pytest.raises(ValueError, match="url or host"):
        SourceConfig(id=3, name="x", type="jdbc").dsn()


def test_run_from_config_end_to_end(spark, tmp_path):
    """Full boot: snapshot both tables, drain a changelog straddling the
    snapshot position, assert merged state + checkpoint rows."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg_path = _write_config(tmp_path, seg_dir)

    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    # source registered under its numeric id with a probed position
    assert 1 in engine.registry and engine.registry[1].start_pos is not None
    snaps = engine.full_sync()
    table_pos = {s.table: s.pos for s in snaps[1]}

    p = int(table_pos["region"])
    events = [
        # at/below snapshot pos: already in the snapshot, must NOT apply
        _event(p, "update", {"r_regionkey": "1", "r_name": "STALE"}),
        # above: must apply
        _event(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"}),
        _event(p + 2, "insert", {"r_regionkey": "99", "r_name": "ATLANTIS"}),
        _event(p + 3, "delete", None, {"r_regionkey": "0", "r_name": "AFRICA"}),
        # different table, filtered to its own materializer
        _event(p + 4, "update", {"n_nationkey": "3", "n_name": "CANADA-v2",
                                 "n_regionkey": "1"}, table="nation"),
    ]
    with open(seg_dir / "seg0.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    engine.incremental_sync()

    base = spark.read.parquet(f"{SF}/region.parquet")
    state = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    expect = {r.r_regionkey: r.r_name for r in base.collect()}
    assert state.get(1) == expect[1] != "STALE"
    expect[2] = "ASIA-v2"
    expect[99] = "ATLANTIS"
    del expect[0]
    assert state == expect

    nation_state = {
        r.n_nationkey: r.n_name for r in engine.read_table(1, "main", "nation").collect()
    }
    assert nation_state[3] == "CANADA-v2"

    # checkpoint contents: source-level row + per-table full rows +
    # incremental watermark advanced to the changelog head
    meta = CheckpointStore(spark, f"{tmp_path}/meta")
    rows = meta.all()
    assert ("dev", None, None) in rows  # init_sources source-level row
    assert rows[("dev", "main", "region")].sync_type == "full"
    assert rows[("dev", None, "region")].last_pos == str(p + 3).zfill(12)
    assert rows[("dev", None, "nation")].last_pos == str(p + 4).zfill(12)


def test_run_entry_point(spark, tmp_path):
    """The one-call `run(config_path)` boots end-to-end and reports."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()  # empty changelog: nothing to drain, still must work
    summary = run(_write_config(tmp_path, seg_dir), spark=spark)
    assert summary["sources"] == {1: "dev"}
    assert sorted(summary["tables"]) == ["1/main/nation", "1/main/region"]
    assert all(err is None for _, _, _, err in summary["snapshots"][1])


# -- restart policy ---------------------------------------------------------


def test_restart_backoff_sequence():
    p = RestartPolicy()
    gen = p.delays()
    assert [next(gen) for _ in range(7)] == [1, 2, 4, 8, 16, 30, 30]


def test_restart_exhausts_after_max_attempts():
    """A poisoned query (fails every start) must back off and give up
    after max_attempts consecutive failures."""
    calls = {"n": 0}
    slept: list[float] = []

    class BoomQuery:
        def awaitTermination(self):
            calls["n"] += 1
            raise RuntimeError("poisoned batch")

    with pytest.raises(RetriesExhausted) as ei:
        run_with_restart(
            lambda: BoomQuery(),
            RestartPolicy(max_attempts=4, base_delay=1.0),
            sleep=slept.append,
        )
    assert calls["n"] == 4
    assert slept == [1.0, 2.0, 4.0]  # no sleep after the final failure
    assert ei.value.attempts == 4


def test_restart_returns_on_clean_termination():
    class CleanQuery:
        def awaitTermination(self):
            return None

    run_with_restart(lambda: CleanQuery(), RestartPolicy(max_attempts=1))


def test_multi_source_registry_isolated_state(spark, tmp_path):
    """Two sources in one config (the reference's DataSourceMap shape):
    each registers under its own numeric id, snapshots independently,
    drains its OWN changelog, and materializes into isolated state —
    an event on source 1 must never leak into source 2's table."""
    seg1 = tmp_path / "cl1"
    seg2 = tmp_path / "cl2"
    seg1.mkdir(), seg2.mkdir()
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id        = 1
name      = "alpha"
type      = "parquet"
path      = "{SF}"
changelog = "{seg1}"
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]

[[source]]
id        = 7
name      = "beta"
type      = "parquet"
path      = "{SF}"
changelog = "{seg2}"
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]
"""
    p = tmp_path / "config.toml"
    p.write_text(cfg)
    engine = Engine(load_config(str(p)), spark=spark)
    engine.init_sources()
    assert set(engine.registry) == {1, 7}
    snaps = engine.full_sync()
    pos1 = int(next(s.pos for s in snaps[1] if s.table == "region"))
    with open(seg1 / "seg0.json", "w") as f:
        f.write(json.dumps(_event(pos1 + 1, "update",
                                  {"r_regionkey": "1", "r_name": "ALPHA-ONLY"})) + "\n")
    engine.incremental_sync()
    s1 = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    s2 = {r.r_regionkey: r.r_name for r in engine.read_table(7, "main", "region").collect()}
    assert s1[1] == "ALPHA-ONLY"
    assert s2[1] != "ALPHA-ONLY"  # isolation: beta never saw alpha's event


def test_read_committed_config_wires_txn_gate(spark, tmp_path):
    """`read_committed = true` on a source buffers txn rows until their
    commit: an open transaction's update is invisible after the first
    drain, applies after the commit arrives in a later segment, and the
    watermark never overtakes the withheld row."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg_path = _write_config(tmp_path, seg_dir)
    # flip the flag on the one configured source
    cfg_text = (tmp_path / "config.toml").read_text()
    (tmp_path / "config.toml").write_text(
        cfg_text.replace('changelog = "', 'read_committed = true\nchangelog = "')
    )

    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    p = int({s.table: s.pos for s in snaps[1]}["region"])

    def ev(pos, op, data, txn):
        e = _event(pos, op, data)
        e["txn_id"] = txn
        return e

    with open(seg_dir / "seg0.json", "w") as f:
        for e in [
            ev(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"}, "tx1"),
            ev(p + 2, "commit", None, "tx1"),
            ev(p + 3, "update", {"r_regionkey": "3", "r_name": "EU-v2"}, "tx2"),
        ]:
            f.write(json.dumps(e) + "\n")
    engine.incremental_sync()

    state = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    assert state[2] == "ASIA-v2"  # committed txn applied
    assert state[3] != "EU-v2"  # open txn withheld
    meta = CheckpointStore(spark, f"{tmp_path}/meta")
    # watermark capped BELOW the withheld row (p+3), not at it
    assert meta.all()[("dev", None, "region")].last_pos == str(p + 2).zfill(12)

    with open(seg_dir / "seg1.json", "w") as f:
        f.write(json.dumps(ev(p + 4, "commit", None, "tx2")) + "\n")
    engine.incremental_sync()
    state = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    assert state[3] == "EU-v2"  # released by its commit
    assert meta.all()[("dev", None, "region")].last_pos == str(p + 4).zfill(12)


def test_read_committed_cross_table_txn_tableless_commit(spark, tmp_path):
    """A transaction spanning region AND nation, committed by a single
    TABLE-LESS commit event (MySQL XID semantics): both tables' gates
    must see the commit and release their rows — a per-table filter
    that drops foreign/table-less commits strands them forever."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg_path = _write_config(tmp_path, seg_dir)
    cfg_text = (tmp_path / "config.toml").read_text()
    (tmp_path / "config.toml").write_text(
        cfg_text.replace('changelog = "', 'read_committed = true\nchangelog = "')
    )

    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    pos = {s.table: int(s.pos) for s in snaps[1]}
    p = max(pos.values())

    def ev(pos_, op, data, txn, table=None):
        e = _event(pos_, op, data, table=table or "region")
        e["txn_id"] = txn
        if op == "commit":
            e["table"] = None
            e["schema"] = None
        return e

    with open(seg_dir / "seg0.json", "w") as f:
        for e in [
            ev(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-x"}, "tx1"),
            ev(p + 2, "update", {"n_nationkey": "3", "n_name": "CA-x",
                                 "n_regionkey": "1"}, "tx1", table="nation"),
            ev(p + 3, "commit", None, "tx1"),
        ]:
            f.write(json.dumps(e) + "\n")
    engine.incremental_sync()

    region = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    nation = {r.n_nationkey: r.n_name for r in engine.read_table(1, "main", "nation").collect()}
    assert region[2] == "ASIA-x"
    assert nation[3] == "CA-x"


def test_two_sources_conflicting_ddl_under_gate(spark, tmp_path):
    """Two concurrent sources evolve the SAME table in CONFLICTING
    directions — alpha renames r_name→region_name, beta CHANGEs
    r_name→label — each interleaved with an open read-committed
    transaction whose commit lands in a later batch. The engine must
    keep the evolutions isolated per source, decode gated rows that
    carry pre-rename images when their commit finally releases them,
    and advance each source's watermark only past released rows."""
    seg_a, seg_b = tmp_path / "cl_a", tmp_path / "cl_b"
    seg_a.mkdir(), seg_b.mkdir()
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id             = 1
name           = "alpha"
type           = "parquet"
path           = "{SF}"
read_committed = true
changelog      = "{seg_a}"
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]

[[source]]
id             = 2
name           = "beta"
type           = "parquet"
path           = "{SF}"
read_committed = true
changelog      = "{seg_b}"
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]
"""
    (tmp_path / "config.toml").write_text(cfg)
    engine = Engine(load_config(str(tmp_path / "config.toml")), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    pa = int(next(s.pos for s in snaps[1] if s.table == "region"))
    pb = int(next(s.pos for s in snaps[2] if s.table == "region"))

    def ev(src, pos, op, data, txn=None, before=None):
        e = _event(pos, op, data, before=before)
        e["data_source"], e["txn_id"] = src, txn
        return e

    # alpha: open txn row under the OLD name, rename DDL, autocommit row
    # under the NEW name — commit arrives only in the second segment
    with open(seg_a / "seg0.json", "w") as f:
        for e in [
            ev("alpha", pa + 1, "update",
               {"r_regionkey": "2", "r_name": "ASIA-ta"}, txn="ta"),
            ev("alpha", pa + 2, "ddl",
               {"query": "ALTER TABLE region RENAME COLUMN r_name TO region_name"}),
            ev("alpha", pa + 3, "insert",
               {"r_regionkey": "90", "region_name": "NOVA"}),
        ]:
            f.write(json.dumps(e) + "\n")
    # beta: same base column, CONFLICTING evolution via CHANGE (rename +
    # re-declared type), same open-txn interleaving
    with open(seg_b / "seg0.json", "w") as f:
        for e in [
            ev("beta", pb + 1, "update",
               {"r_regionkey": "3", "r_name": "EU-tb"}, txn="tb"),
            ev("beta", pb + 2, "ddl",
               {"query": "ALTER TABLE region CHANGE COLUMN r_name label VARCHAR(80)"}),
            ev("beta", pb + 3, "insert",
               {"r_regionkey": "91", "label": "TERRA"}),
        ]:
            f.write(json.dumps(e) + "\n")

    # first drain: renames applied, open txns withheld on BOTH sources
    engine.incremental_sync()
    a_mid = {r.r_regionkey: r for r in engine.read_table(1, "main", "region").collect()}
    b_mid = {r.r_regionkey: r for r in engine.read_table(2, "main", "region").collect()}
    assert a_mid[2].region_name == "ASIA"  # ta still open → withheld
    assert b_mid[3].label == "EUROPE"      # tb still open → withheld

    # commits arrive in later segments (distinct mtimes, like real
    # binlog rotation) and must release rows that carry PRE-rename
    # column images into the post-rename schema
    with open(seg_a / "seg1.json", "w") as f:
        f.write(json.dumps(ev("alpha", pa + 4, "commit", None, txn="ta")) + "\n")
    with open(seg_b / "seg1.json", "w") as f:
        f.write(json.dumps(ev("beta", pb + 4, "commit", None, txn="tb")) + "\n")
    engine.incremental_sync()

    alpha = {r.r_regionkey: r for r in engine.read_table(1, "main", "region").collect()}
    beta = {r.r_regionkey: r for r in engine.read_table(2, "main", "region").collect()}

    # alpha's view: renamed column, snapshot data carried, gated row
    # (old-name image) decoded on release, post-DDL insert applied
    a_cols = set(engine.read_table(1, "main", "region").columns)
    assert "region_name" in a_cols and "r_name" not in a_cols
    assert "label" not in a_cols  # beta's evolution never leaks in
    assert alpha[2].region_name == "ASIA-ta"
    assert alpha[90].region_name == "NOVA"
    assert alpha[0].region_name is not None  # snapshot rows carried

    b_cols = set(engine.read_table(2, "main", "region").columns)
    assert "label" in b_cols and "r_name" not in b_cols
    assert "region_name" not in b_cols
    assert beta[3].label == "EU-tb"
    assert beta[91].label == "TERRA"
    assert beta[2].label == "ASIA"  # alpha's txn never leaks in

    # checkpoints: per-source watermarks advanced to their own heads
    meta = CheckpointStore(spark, f"{tmp_path}/meta")
    rows = meta.all()
    assert rows[("alpha", None, "region")].last_pos == str(pa + 4).zfill(12)
    assert rows[("beta", None, "region")].last_pos == str(pb + 4).zfill(12)


def test_mixed_changelog_formats_one_engine(spark, tmp_path):
    """One engine, two sources speaking DIFFERENT wire formats — source
    1 the native CHANGE_EVENT_SCHEMA JSON-lines changelog, source 2 a
    Debezium topic replay. Both must materialize independently through
    their own adapters; neither stream may leak into the other's
    state."""
    seg1 = tmp_path / "cl-native"
    seg2 = tmp_path / "cl-dbz"
    seg1.mkdir(), seg2.mkdir()
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id        = 1
name      = "native_src"
type      = "parquet"
path      = "{SF}"
changelog = "{seg1}"
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]

[[source]]
id               = 2
name             = "dbz_src"
type             = "parquet"
path             = "{SF}"
changelog        = "{seg2}"
changelog_format = "debezium"
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]
"""
    p = tmp_path / "config.toml"
    p.write_text(cfg)
    engine = Engine(load_config(str(p)), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    pos1 = int(next(s.pos for s in snaps[1] if s.table == "region"))
    with open(seg1 / "seg0.json", "w") as f:
        f.write(
            json.dumps(
                _event(pos1 + 1, "update", {"r_regionkey": "2", "r_name": "NATIVE-V2"})
            )
            + "\n"
        )
    dbz = {
        "payload": {
            "before": {"r_regionkey": 0, "r_name": "AFRICA"},
            "after": {"r_regionkey": 0, "r_name": "DBZ-V2"},
            "op": "u",
            "ts_ms": 1700000000000,
            "source": {"name": "dbz_src", "db": "main", "table": "region",
                       "gtid": "uuid-z:1"},
        }
    }
    (seg2 / "topic-0.json").write_text(json.dumps(dbz) + "\n")
    engine.incremental_sync()
    s1 = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    s2 = {r.r_regionkey: r.r_name for r in engine.read_table(2, "main", "region").collect()}
    assert s1[2] == "NATIVE-V2" and s1[0] == "AFRICA"
    assert s2[0] == "DBZ-V2" and s2[2] == "ASIA"


def test_engine_boot_over_derby_jdbc_metadata(spark, tmp_path):
    """Config-driven boot against a REAL SQL database: type =
    "jdbc_metadata" (portable DatabaseMetaData discovery) pointed at
    embedded Derby — init_sources probes and registers, full_sync
    discovers APP.WIDGETS via JDBC metadata, snapshots it through the
    partitioned read path, and the materialized state serves reads."""
    from .test_jdbc_source import DERBY_DRIVER, _derby

    url, conn = _derby(spark, tmp_path)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE APP.WIDGETS (WID INT NOT NULL PRIMARY KEY,"
        " NAME VARCHAR(20), PRICE DOUBLE)"
    )
    ps = conn.prepareStatement("INSERT INTO APP.WIDGETS VALUES (?, ?, ?)")
    for i in range(1, 21):
        ps.setInt(1, i)
        ps.setString(2, f"w{i}")
        ps.setDouble(3, i * 1.25)
        ps.executeUpdate()

    cfg = tmp_path / "derby.toml"
    cfg.write_text(
        f'''
[engine]
meta_path = "{tmp_path}/meta"
state_dir = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id = 7
name = "derbysrc"
type = "jdbc_metadata"
url = "{url.replace(';create=true', '')}"
num_partitions = 3

[source.properties]
driver = "{DERBY_DRIVER}"
'''
    )
    engine = Engine(load_config(str(cfg)), spark=spark)
    engine.init_sources()
    assert 7 in engine.registry
    snaps = engine.full_sync()
    by_table = {s.table: s for s in snaps[7]}
    assert by_table["WIDGETS"].error is None
    state = {r.WID: (r.NAME, r.PRICE) for r in
             engine.read_table(7, "APP", "WIDGETS").collect()}
    assert state == {i: (f"w{i}", i * 1.25) for i in range(1, 21)}
    # checkpoint rows: source-level + per-table full
    meta = CheckpointStore(spark, f"{tmp_path}/meta")
    rows = meta.all()
    assert ("derbysrc", None, None) in rows
    assert rows[("derbysrc", "APP", "WIDGETS")].sync_type == "full"
    conn.close()


def test_engine_history_time_travel(spark, tmp_path):
    """`history = true` materializes SCD2 versions engine-wide:
    read_table still serves current rows, read_history exposes the
    closed intervals, and read_table_asof answers at any changelog
    position. A flat source rejects the history reads loudly."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id        = 1
name      = "dev"
type      = "parquet"
path      = "{SF}"
changelog = "{seg_dir}"
history   = true
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]
"""
    cfg_path = tmp_path / "config.toml"
    cfg_path.write_text(cfg)

    engine = Engine(load_config(str(cfg_path)), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    p = int({s.table: s.pos for s in snaps[1]}["region"])
    events = [
        _event(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"}),
        _event(p + 2, "update", {"r_regionkey": "2", "r_name": "ASIA-v3"}),
        _event(p + 3, "delete", None, {"r_regionkey": "0", "r_name": "AFRICA"}),
    ]
    with open(seg_dir / "seg0.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    engine.incremental_sync()

    cur = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    assert cur[2] == "ASIA-v3"
    assert 0 not in cur  # deleted

    hist = engine.read_history(1, "main", "region")
    versions = [
        (r["r_name"], r["__valid_to_pos"])
        for r in hist.filter("r_regionkey = 2").orderBy("__valid_from_pos").collect()
    ]
    names = [v[0] for v in versions]
    assert names[-2:] == ["ASIA-v2", "ASIA-v3"]
    assert versions[-1][1] is None  # open interval = current
    assert all(v[1] is not None for v in versions[:-1])

    # time travel: between the two updates, v2 was live; before both,
    # the snapshot row was
    asof_v2 = {
        r.r_regionkey: r.r_name
        for r in engine.read_table_asof(1, "main", "region", str(p + 1).zfill(12)).collect()
    }
    assert asof_v2[2] == "ASIA-v2"
    assert asof_v2[0] == "AFRICA"  # not yet deleted at p+1
    asof_snap = {
        r.r_regionkey: r.r_name
        for r in engine.read_table_asof(1, "main", "region", str(p).zfill(12)).collect()
    }
    assert asof_snap[2] not in ("ASIA-v2", "ASIA-v3")

    # flat sources refuse the history API loudly
    flat_cfg = _write_config(tmp_path, seg_dir)
    flat = Engine(load_config(flat_cfg), spark=spark)
    flat.init_sources()
    flat.full_sync()
    with pytest.raises(ValueError, match="history = true"):
        flat.read_history(1, "main", "region")


def test_history_composes_with_read_committed(spark, tmp_path):
    """history = true + read_committed = true: the txn gate buffers an
    open transaction's row; once its commit arrives, the release flows
    into the SCD2 materializer — so the version only appears in history
    AFTER the commit, and asof-reads before the row's position never
    see it."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id        = 1
name      = "dev"
type      = "parquet"
path      = "{SF}"
changelog = "{seg_dir}"
history   = true
read_committed = true
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]
"""
    (tmp_path / "config.toml").write_text(cfg)
    engine = Engine(load_config(str(tmp_path / "config.toml")), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    p = int({s.table: s.pos for s in snaps[1]}["region"])

    def ev(pos, op, data, txn):
        e = _event(pos, op, data)
        e["txn_id"] = txn
        return e

    with open(seg_dir / "seg0.json", "w") as f:
        f.write(json.dumps(
            ev(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"}, "tx1")
        ) + "\n")
    engine.incremental_sync()
    # open txn: no new version anywhere — current, history, or asof
    assert {
        r["r_name"] for r in engine.read_history(1, "main", "region")
        .filter("r_regionkey = 2").collect()
    } == {"ASIA"}

    with open(seg_dir / "seg1.json", "w") as f:
        f.write(json.dumps(ev(p + 2, "commit", None, "tx1")) + "\n")
    engine.incremental_sync()
    cur = {r.r_regionkey: r.r_name for r in engine.read_table(1, "main", "region").collect()}
    assert cur[2] == "ASIA-v2"
    hist_names = [
        r["r_name"] for r in engine.read_history(1, "main", "region")
        .filter("r_regionkey = 2").orderBy("__valid_from_pos").collect()
    ]
    assert hist_names == ["ASIA", "ASIA-v2"]
    asof_before = {
        r.r_regionkey: r.r_name
        for r in engine.read_table_asof(1, "main", "region", str(p).zfill(12)).collect()
    }
    assert asof_before[2] == "ASIA"


def test_demux_routes_skips_and_applies_ddl(spark, tmp_path):
    """Round-10 demux path, explicitly: one per-SOURCE stream fans a
    mixed micro-batch out to BOTH tables' MERGEs, a DDL event lands on
    ITS table only, and a table the batch does not touch keeps its
    state files physically untouched (skip == apply proven at the
    filesystem level, not just semantically)."""
    import os as _os

    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg_path = _write_config(tmp_path, seg_dir)
    engine = Engine(load_config(cfg_path), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    table_pos = {s.table: s.pos for s in snaps[1]}
    p = int(table_pos["region"])

    # segment 1: region-only traffic -> nation state must not be rewritten
    with open(seg_dir / "a.json", "w") as f:
        f.write(json.dumps(_event(p + 1, "insert",
                                  {"r_regionkey": "77", "r_name": "LEMURIA"})) + "\n")
    nation_state = str(tmp_path / "state" / "src1" / "main" / "nation")
    before_files = {
        n: _os.path.getmtime(_os.path.join(nation_state, n))
        for n in _os.listdir(nation_state)
    }
    engine.incremental_sync()
    after_files = {
        n: _os.path.getmtime(_os.path.join(nation_state, n))
        for n in _os.listdir(nation_state)
    }
    assert after_files == before_files  # untouched table skipped entirely
    assert {r.r_name for r in engine.read_table(1, "main", "region").collect()} >= {"LEMURIA"}

    # segment 2: mixed batch — nation row + region DDL; the DDL must
    # evolve region's schema only, through the same demux foreachBatch
    ddl = _event(p + 2, "ddl", {"query": "ALTER TABLE region ADD COLUMN r_tier INT"})
    with open(seg_dir / "b.json", "w") as f:
        f.write(json.dumps(ddl) + "\n")
        f.write(json.dumps(_event(p + 3, "update",
                                  {"n_nationkey": "3", "n_name": "CANADA-v3",
                                   "n_regionkey": "1"}, table="nation")) + "\n")
    engine.incremental_sync()
    region_cols = engine.read_table(1, "main", "region").columns
    nation_cols = engine.read_table(1, "main", "nation").columns
    assert "r_tier" in region_cols
    assert "r_tier" not in nation_cols
    got = {r.n_nationkey: r.n_name for r in engine.read_table(1, "main", "nation").collect()}
    assert got[3] == "CANADA-v3"


def test_demux_keeps_history_sources_on_per_table_path(spark, tmp_path):
    """ADVICE r10 (high): SCD2 interval derivation is replay-sensitive,
    so a history source must NOT be moved onto the demux checkpoint
    identity — a pre-existing deployment that already drained events
    through per-table checkpoints would replay the whole changelog
    under the new `_demux` checkpoint and duplicate every closed
    interval. Proven across repeated syncs: drain, then sync again —
    history row counts are unchanged, no _demux checkpoint exists, and
    fresh events still flow through the per-table checkpoint."""
    import os as _os

    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    cfg = f"""
[engine]
meta_path      = "{tmp_path}/meta"
state_dir      = "{tmp_path}/state"
checkpoint_dir = "{tmp_path}/ckpt"

[[source]]
id        = 1
name      = "dev"
type      = "parquet"
path      = "{SF}"
changelog = "{seg_dir}"
history   = true
[source.primary_keys]
region = ["r_regionkey"]
[source.rules.global]
include_tables = ["region"]
"""
    (tmp_path / "config.toml").write_text(cfg)
    engine = Engine(load_config(str(tmp_path / "config.toml")), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    p = int({s.table: s.pos for s in snaps[1]}["region"])
    with open(seg_dir / "seg0.json", "w") as f:
        f.write(json.dumps(
            _event(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"})
        ) + "\n")
        f.write(json.dumps(
            _event(p + 2, "update", {"r_regionkey": "2", "r_name": "ASIA-v3"})
        ) + "\n")

    # per-table checkpoints, events applied
    engine.incremental_sync()

    def versions():
        return [
            (r["r_name"], r["__valid_from_pos"], r["__valid_to_pos"])
            for r in engine.read_history(1, "main", "region")
            .filter("r_regionkey = 2")
            .orderBy("__valid_from_pos")
            .collect()
        ]

    before = versions()
    assert [v[0] for v in before] == ["ASIA", "ASIA-v2", "ASIA-v3"]

    # a second sync: history sources keep the per-table checkpoint
    # identity — same events, same intervals.
    engine.incremental_sync()
    assert versions() == before  # no duplicated closed intervals
    assert not _os.path.exists(
        str(tmp_path / "ckpt" / "src1" / "_demux")
    ), "history source was routed through the demux checkpoint"
    assert _os.path.exists(str(tmp_path / "ckpt" / "src1" / "main" / "region"))

    # and fresh events still flow through the per-table path
    with open(seg_dir / "seg1.json", "w") as f:
        f.write(json.dumps(
            _event(p + 3, "update", {"r_regionkey": "2", "r_name": "ASIA-v4"})
        ) + "\n")
    engine.incremental_sync()
    names = [v[0] for v in versions()]
    assert names == ["ASIA", "ASIA-v2", "ASIA-v3", "ASIA-v4"]


def test_freshness_reports_lag_and_drains_to_fresh(spark, tmp_path):
    """Engine.freshness: events land in the changelog -> the touched
    table reads behind with an exact pending count; a drain returns the
    report to fresh; untouched tables stay fresh throughout."""
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    engine = Engine(load_config(_write_config(tmp_path, seg_dir)), spark=spark)
    engine.init_sources()
    snaps = engine.full_sync()
    p = int({s.table: s.pos for s in snaps[1]}["region"])

    # nothing in the changelog: everything fresh, no latest_pos
    fr = engine.freshness()
    assert set(fr) == {(1, "main", "region"), (1, "main", "nation")}
    assert all(v["fresh"] and v["events_behind"] == 0 for v in fr.values())

    with open(seg_dir / "a.json", "w") as f:
        for i in range(3):
            f.write(json.dumps(_event(p + 1 + i, "insert",
                                      {"r_regionkey": str(90 + i),
                                       "r_name": f"X{i}"})) + "\n")
    fr = engine.freshness()
    assert fr[(1, "main", "region")]["events_behind"] == 3
    assert fr[(1, "main", "region")]["fresh"] is False
    assert fr[(1, "main", "region")]["latest_pos"] == str(p + 3).zfill(12)
    assert fr[(1, "main", "nation")]["fresh"] is True

    engine.incremental_sync()
    fr = engine.freshness()
    assert fr[(1, "main", "region")]["fresh"] is True
    assert fr[(1, "main", "region")]["events_behind"] == 0
    # applied watermark advanced to the drained head
    assert fr[(1, "main", "region")]["applied_pos"] >= str(p + 3).zfill(12)
