"""Full-pipeline integration: snapshot capture → checkpointed position
→ streaming changelog replay → handoff rule (`pos > tableGTID`) →
foreachBatch MERGE — the end-to-end story of the reference
(`docs/全量抓取逻辑.md:44-52`: gap-free, overlap-free, no downstream
idempotency needed), across every layer of this engine at once.

The overlap case is explicit: the changelog replays events at and below
the snapshot position (already reflected in the snapshot) alongside
genuinely-new ones; only the latter may apply.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from go_cdc_spark.operators.cdc import materialize_changelog
from go_cdc_spark.sources.changelog import changelog_df
from go_cdc_spark.sources.meta import CheckpointStore
from go_cdc_spark.sources.snapshot import ParquetSnapshotSource, snapshot_table
from go_cdc_spark.streaming.pipeline import StreamingMaterializer, read_changelog_stream

SF = "/root/testdata/sf0.001"


def _event(pos, op, data, before=None):
    return {
        "data_source": "ds1",
        "schema": "main",
        "table": "region",
        "op": op,
        "data": data,
        "before": before,
        "ts": None,
        "pos": str(pos).zfill(12),
        "txn_id": None,
    }


def test_snapshot_then_batch_handoff(spark, tmp_path):
    """Snapshot region at pos=1; replay a changelog straddling the
    snapshot position; final state must equal snapshot ⊕ only-newer."""
    src = ParquetSnapshotSource(spark, SF, primary_keys={"region": ["r_regionkey"]})
    store = CheckpointStore(spark, str(tmp_path / "meta"))
    snap = snapshot_table(src, "ds1", "main", "region", checkpoint=store)
    table_pos = store.get_pos("ds1", sc="main", tb="region")
    assert table_pos == snap.pos

    base = spark.read.parquet(f"{SF}/region.parquet")
    events = [
        # at/below snapshot pos → already in snapshot, MUST be discarded
        _event(0, "insert", {"r_regionkey": "0", "r_name": "STALE-A"}),
        _event(int(table_pos), "update", {"r_regionkey": "1", "r_name": "STALE-B"}),
        # above snapshot pos → must apply, latest-wins per key
        _event(int(table_pos) + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"}),
        _event(int(table_pos) + 2, "update", {"r_regionkey": "2", "r_name": "ASIA-v3"}),
        _event(int(table_pos) + 3, "insert", {"r_regionkey": "99", "r_name": "ATLANTIS"}),
        _event(int(table_pos) + 4, "delete", None, {"r_regionkey": "0", "r_name": "AFRICA"}),
    ]
    changes = changelog_df(spark, events)
    final = materialize_changelog(changes, base, keys=["r_regionkey"], pos_threshold=table_pos)
    state = {r.r_regionkey: r.r_name for r in final.collect()}

    expect = {r.r_regionkey: r.r_name for r in base.collect()}
    expect[2] = "ASIA-v3"  # latest of the two updates
    expect[99] = "ATLANTIS"  # new insert
    del expect[0]  # deleted; and the stale pre-snapshot events left no trace
    assert state == expect


def test_snapshot_then_stream_handoff(spark, tmp_path):
    """Same semantics through the streaming path: changelog segments →
    readStream → handoff filter → foreachBatch MERGE materializer."""
    src = ParquetSnapshotSource(spark, SF, primary_keys={"region": ["r_regionkey"]})
    store = CheckpointStore(spark, str(tmp_path / "meta"))
    snap = snapshot_table(src, "ds1", "main", "region", checkpoint=store)
    assert snap.count_rows() == spark.read.parquet(f"{SF}/region.parquet").count()
    table_pos = store.get_pos("ds1", sc="main", tb="region")

    base = spark.read.parquet(f"{SF}/region.parquet")
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    p = int(table_pos)
    segments = [
        [_event(0, "insert", {"r_regionkey": "0", "r_name": "STALE-A"}),
         _event(p + 1, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"})],
        [_event(p + 2, "insert", {"r_regionkey": "99", "r_name": "ATLANTIS"}),
         _event(p + 3, "delete", None, {"r_regionkey": "0", "r_name": "AFRICA"})],
    ]
    for i, seg in enumerate(segments):
        with open(seg_dir / f"seg{i}.json", "w") as f:
            for e in seg:
                f.write(json.dumps(e) + "\n")

    mat = StreamingMaterializer(
        spark,
        snapshot=base,
        keys=["r_regionkey"],
        state_path=str(tmp_path / "state"),
        pos_threshold=table_pos,
    )
    stream = read_changelog_stream(spark, str(seg_dir), max_files_per_trigger=1)
    q = mat.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    state = {r.r_regionkey: r.r_name for r in mat.read_table().collect()}
    expect = {r.r_regionkey: r.r_name for r in base.collect()}
    expect[2] = "ASIA-v2"
    expect[99] = "ATLANTIS"
    del expect[0]
    assert state == expect


def test_torn_parallel_snapshot_reconciled_by_replay(spark, tmp_path):
    """A7's parallel mode, reconciled: chunked JDBC reads each open
    their own connection, so two chunks can observe DIFFERENT
    transaction states — a "torn" snapshot. The DBLog-style repair this
    engine relies on: record the low-watermark position BEFORE the read,
    then replay the changelog from it with latest-wins MERGE. Any row a
    chunk observed post-event is simply overwritten with the same value
    (idempotent); any row observed pre-event is corrected; events below
    the watermark never regress anything.

    This pins the semantics that make `JdbcSnapshotSource(num_partitions
    > 1)` safe to run against a live table.
    """
    base = spark.read.parquet(f"{SF}/region.parquet")  # state at lo=100

    lo = 100
    events = [
        # below the low watermark: already in every chunk, must not apply
        _event(90, "update", {"r_regionkey": "1", "r_name": "PRE-SNAPSHOT"}),
        # concurrent with the chunked read (lo < pos <= hi)
        _event(110, "update", {"r_regionkey": "2", "r_name": "ASIA-v2"}),
        _event(120, "insert", {"r_regionkey": "77", "r_name": "LEMURIA"}),
        _event(130, "delete", None, {"r_regionkey": "0", "r_name": "AFRICA"}),
    ]

    # torn snapshot: chunk A (keys 0-2) read at pos=100 (saw none of the
    # events); chunk B (keys 3+) read at pos=130 (saw all of them — but
    # its key range only contains untouched rows 3,4 plus... nothing:
    # the concurrent writes hit chunk A's range and a new key). To make
    # the tear REAL, chunk B also observed the new row 77 and chunk A
    # still holds the deleted row 0 and stale rows 1,2.
    chunk_a = base.filter(F.col("r_regionkey") <= 2)  # as of pos 100
    chunk_b = base.filter(F.col("r_regionkey") > 2).unionByName(
        spark.createDataFrame(
            [(77, "LEMURIA")],
            schema=base.schema,
        )
    )  # as of pos 130
    torn = chunk_a.unionByName(chunk_b)

    changes = changelog_df(spark, events)
    final = materialize_changelog(
        changes, torn, keys=["r_regionkey"], pos_threshold=str(lo).zfill(12)
    )
    state = {r.r_regionkey: r.r_name for r in final.collect()}

    # ground truth: state at hi=130 with all events applied
    expect = {r.r_regionkey: r.r_name for r in base.collect()}
    expect[2] = "ASIA-v2"
    expect[77] = "LEMURIA"
    del expect[0]
    assert state == expect  # and key 1 kept its base name (pos 90 discarded)


# ---------------------------------------------------------------------------
# Fault injection: crash BETWEEN the foreachBatch state write and the
# streaming checkpoint commit. Structured Streaming then REPLAYS the
# batch on restart (offset WAL precedes execution; the commit log trails
# it), so the MERGE must be idempotent under exact redelivery — the
# strong form of the reference's exactly-once materialization claim
# (docs/全量抓取逻辑.md:66-69). The clean run and the crash-replay run
# must converge to identical table state AND identical _cdc_meta.
# ---------------------------------------------------------------------------

from go_cdc_spark.sources.changelog import format_pos
from go_cdc_spark.streaming.txn_gate import ReadCommittedGate


def _acct_ev(op, id_, pos, v=None, txn=None):
    e = {
        "data_source": "ds1",
        "schema": "bank",
        "table": "accounts",
        "op": op,
        "ts": None,
        "pos": format_pos(pos),
        "txn_id": txn,
    }
    if op in ("insert", "update"):
        e["data"] = {"id": str(id_), "v": v}
    elif op == "delete":
        e["before"] = {"id": str(id_)}
    return e


def _write_seg(dirpath, name, events, mtime=None):
    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    with open(p, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    if mtime is not None:
        # the file stream source orders by modification time; segments
        # written back-to-back can tie (or invert) within the fs
        # timestamp granularity — pin strictly increasing mtimes so
        # batch order matches log order, as a real tailer would see
        os.utime(p, (mtime, mtime))


_SEGMENTS = [
    ("seg1.json", [
        _acct_ev("insert", 1, 110, v="a"),
        _acct_ev("insert", 2, 120, v="b"),
    ]),
    ("seg2.json", [
        _acct_ev("update", 1, 130, v="a2"),
        _acct_ev("delete", 2, 140),
        _acct_ev("insert", 3, 150, v="c"),
    ]),
    ("seg3.json", [
        _acct_ev("update", 3, 160, v="c2"),
        _acct_ev("insert", 2, 170, v="b-again"),
    ]),
]


class _CrashAfterWrite(StreamingMaterializer):
    """Completes batch N's state write + watermark upsert, then dies
    before the streaming engine can commit the batch — the exact
    window where replay happens on restart."""

    crash_batch = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.crashed = False

    def process_batch(self, batch, batch_id):
        super().process_batch(batch, batch_id)
        if batch_id == self.crash_batch and not self.crashed:
            self.crashed = True
            raise RuntimeError("injected crash: state written, checkpoint uncommitted")


def _snap_accounts(spark):
    return spark.createDataFrame([], "id long, v string")


def _run_materializer(spark, tmp_path, tag, cls=StreamingMaterializer, snap=None):
    seg = tmp_path / f"segments_{tag}"
    base = time.time() - 100
    for i, (name, events) in enumerate(_SEGMENTS):
        _write_seg(seg, name, events, mtime=base + 10 * i)
    meta = CheckpointStore(spark, str(tmp_path / f"meta_{tag}"))
    mat = cls(
        spark, _snap_accounts(spark) if snap is None else snap, keys=["id"],
        state_path=str(tmp_path / f"state_{tag}"),
        pos_threshold=format_pos(100), meta=meta, table="accounts",
    )
    stream = read_changelog_stream(spark, str(seg), max_files_per_trigger=1)
    q = mat.start(stream, str(tmp_path / f"ckpt_{tag}"))
    try:
        q.awaitTermination(120)
        crashed = False
    except Exception:
        crashed = True
    return mat, meta, seg, crashed


def test_crash_between_merge_write_and_checkpoint_commit(spark, tmp_path):
    # reference: uninterrupted run
    mat_clean, meta_clean, _, crashed = _run_materializer(spark, tmp_path, "clean")
    assert not crashed
    want = {(r.id, r.v) for r in mat_clean.read_table().collect()}
    want_pos = meta_clean.get_pos("ds1", None, "accounts")
    assert want == {(1, "a2"), (2, "b-again"), (3, "c2")}

    # crash run: batch 1's write lands, its checkpoint commit does not
    mat_c, meta_c, seg, crashed = _run_materializer(
        spark, tmp_path, "crash", cls=_CrashAfterWrite
    )
    assert crashed, "injected crash did not surface"

    # restart (fresh process → fresh materializer over the same state
    # and checkpoint): Structured Streaming redelivers batch 1 in full
    meta_r = CheckpointStore(spark, str(tmp_path / "meta_crash"))
    mat_r = StreamingMaterializer(
        spark, _snap_accounts(spark), keys=["id"],
        state_path=str(tmp_path / "state_crash"),
        pos_threshold=format_pos(100), meta=meta_r, table="accounts",
    )
    stream = read_changelog_stream(spark, str(seg), max_files_per_trigger=1)
    q = mat_r.start(stream, str(tmp_path / "ckpt_crash"))
    q.awaitTermination(120)

    got = {(r.id, r.v) for r in mat_r.read_table().collect()}
    assert got == want
    assert meta_r.get_pos("ds1", None, "accounts") == want_pos


class _CrashingGate(ReadCommittedGate):
    """Dies after the downstream apply + pending-store rewrite +
    watermark advance of batch N — the gate's full side-effect set —
    but before the streaming commit."""

    crash_batch = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.crashed = False

    def process_batch(self, batch, batch_id):
        super().process_batch(batch, batch_id)
        if batch_id == self.crash_batch and not self.crashed:
            self.crashed = True
            raise RuntimeError("injected crash after gate side-effects")


_TXN_SEGMENTS = [
    ("seg1.json", [                        # t1 and t2 open, buffered
        _acct_ev("insert", 1, 110, v="a", txn="t1"),
        _acct_ev("insert", 2, 120, v="b", txn="t2"),
        _acct_ev("insert", 4, 125, v="d", txn=None),   # autocommit
    ]),
    ("seg2.json", [                        # commit t1; t2 grows
        _acct_ev("update", 2, 130, v="b2", txn="t2"),
        _acct_ev("commit", 135, 135, txn="t1"),
        _acct_ev("insert", 5, 140, v="e", txn=None),
    ]),
    ("seg3.json", [                        # commit t2
        _acct_ev("commit", 150, 150, txn="t2"),
    ]),
]


def _run_gated(spark, tmp_path, tag, cls=ReadCommittedGate):
    seg = tmp_path / f"gseg_{tag}"
    base = time.time() - 100
    for i, (name, events) in enumerate(_TXN_SEGMENTS):
        _write_seg(seg, name, events, mtime=base + 10 * i)
    meta = CheckpointStore(spark, str(tmp_path / f"gmeta_{tag}"))
    mat = StreamingMaterializer(
        spark, _snap_accounts(spark), keys=["id"],
        state_path=str(tmp_path / f"gstate_{tag}"),
    )
    gate = cls(
        spark, str(tmp_path / f"gpend_{tag}"), downstream=mat.process_batch,
        meta=meta, table="accounts",
    )
    stream = read_changelog_stream(spark, str(seg), max_files_per_trigger=1)
    q = gate.start(stream, str(tmp_path / f"gckpt_{tag}"))
    try:
        q.awaitTermination(120)
        crashed = False
    except Exception:
        crashed = True
    return mat, gate, meta, seg, crashed


def test_crash_mid_batch_with_txn_gate_pending_replay(spark, tmp_path):
    """Crash after batch 1 (which releases t1 from the pending store
    and re-buffers t2): redelivery must not double-apply released rows
    nor double-buffer t2's in-batch row (the (table, pos) pending
    dedup), and the watermark must match the clean run."""
    mat_clean, gate_clean, meta_clean, _, crashed = _run_gated(spark, tmp_path, "clean")
    assert not crashed
    want = {(r.id, r.v) for r in mat_clean.read_table().collect()}
    assert want == {(1, "a"), (2, "b2"), (4, "d"), (5, "e")}
    assert gate_clean.pending().count() == 0
    want_pos = meta_clean.get_pos("ds1", None, "accounts")

    mat_c, gate_c, meta_c, seg, crashed = _run_gated(
        spark, tmp_path, "crash", cls=_CrashingGate
    )
    assert crashed

    # fresh-process restart over the same pending store + checkpoint
    meta_r = CheckpointStore(spark, str(tmp_path / "gmeta_crash"))
    mat_r = StreamingMaterializer(
        spark, _snap_accounts(spark), keys=["id"],
        state_path=str(tmp_path / "gstate_crash"),
    )
    gate_r = ReadCommittedGate(
        spark, str(tmp_path / "gpend_crash"), downstream=mat_r.process_batch,
        meta=meta_r, table="accounts",
    )
    stream = read_changelog_stream(spark, str(seg), max_files_per_trigger=1)
    q = gate_r.start(stream, str(tmp_path / "gckpt_crash"))
    q.awaitTermination(120)

    got = {(r.id, r.v) for r in mat_r.read_table().collect()}
    assert got == want
    assert gate_r.pending().count() == 0
    assert meta_r.get_pos("ds1", None, "accounts") == want_pos


def test_materializer_hot_key_converges(spark, tmp_path):
    """A hot key receiving most of the change stream (counter rows,
    queue heads), split across two micro-batches, must still converge
    to its latest image, beside a cold insert and a cold delete."""
    base = spark.read.parquet(f"{SF}/region.parquet")
    # hot key 2: 30 consecutive updates; cold keys get one event each
    events = [
        _event(101 + i, "update", {"r_regionkey": "2", "r_name": f"ASIA-v{i}"})
        for i in range(30)
    ]
    events += [
        _event(200, "insert", {"r_regionkey": "77", "r_name": "LEMURIA"}),
        _event(201, "delete", None, {"r_regionkey": "0", "r_name": "AFRICA"}),
    ]
    seg_dir = tmp_path / "changelog"
    seg_dir.mkdir()
    for i in range(2):  # split across two micro-batch segments
        p = seg_dir / f"seg{i}.json"
        with open(p, "w") as f:
            for e in events[i * 16 : (i + 1) * 16]:
                f.write(json.dumps(e) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    mat = StreamingMaterializer(
        spark,
        snapshot=base,
        keys=["r_regionkey"],
        state_path=str(tmp_path / "state"),
        pos_threshold="100".zfill(12),
    )
    stream = read_changelog_stream(spark, str(seg_dir), max_files_per_trigger=1)
    q = mat.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = {r.r_regionkey: r.r_name for r in mat.read_table().collect()}
    assert got[2] == "ASIA-v29" and got[77] == "LEMURIA" and 0 not in got


# ---------------------------------------------------------------------------
# Merge-on-read state: a batch appends its collapsed delta as a run beside
# the base; a compaction folds the runs into a new base, then deletes them.
# ---------------------------------------------------------------------------

from go_cdc_spark import storeio
from go_cdc_spark.streaming.pipeline import MAX_RUNS


def _big_snap(spark, n):
    """``n`` snapshot rows (ids 1000..): a base far larger than any
    one-segment run, so batches append runs instead of compacting."""
    return spark.range(1000, 1000 + n).select(
        "id", F.concat(F.lit("s"), F.col("id").cast("string")).alias("v")
    )


def _table(mat):
    return {(r.id, r.v) for r in mat.read_table().collect()}


def test_crash_between_run_write_and_checkpoint_commit(spark, tmp_path):
    """Batch 1 lands as a run, then the process dies before the
    streaming commit: the restart redelivers batch 1, which adds a
    duplicate run under a new name, and converges to the clean run."""
    snap = _big_snap(spark, 2000)
    mat_clean, meta_clean, _, crashed = _run_materializer(
        spark, tmp_path, "rclean", snap=snap
    )
    assert not crashed
    want = _table(mat_clean)
    want_pos = meta_clean.get_pos("ds1", None, "accounts")
    assert {(1, "a2"), (2, "b-again"), (3, "c2")} <= want
    assert len(storeio.runs(mat_clean.state_path)) == 3  # no compaction

    _, _, seg, crashed = _run_materializer(
        spark, tmp_path, "rcrash", cls=_CrashAfterWrite, snap=snap
    )
    assert crashed
    state_path = str(tmp_path / "state_rcrash")
    assert len(storeio.runs(state_path)) == 2  # batches 0 and 1, as runs

    meta_r = CheckpointStore(spark, str(tmp_path / "meta_rcrash"))
    mat_r = StreamingMaterializer(
        spark, snap, keys=["id"], state_path=state_path,
        pos_threshold=format_pos(100), meta=meta_r, table="accounts",
    )
    stream = read_changelog_stream(spark, str(seg), max_files_per_trigger=1)
    mat_r.start(stream, str(tmp_path / "ckpt_rcrash")).awaitTermination(120)

    assert _table(mat_r) == want
    assert meta_r.get_pos("ds1", None, "accounts") == want_pos
    assert len(storeio.runs(state_path)) == 4  # batch 1's replay is a new run


def _batches(spark):
    return [changelog_df(spark, evs) for _, evs in _SEGMENTS]


def test_crash_between_compaction_swap_and_run_delete(spark, tmp_path, monkeypatch):
    """A compaction swaps its new base in, then dies before deleting the
    runs it folded. The new base's manifest names them, so they are no
    longer read; the redelivered batch and the next one apply on top,
    and a restart sweeps the leftovers."""
    b0, b1, b2 = _batches(spark)
    clean = StreamingMaterializer(
        spark, _snap_accounts(spark), keys=["id"],
        state_path=str(tmp_path / "clean"), table="accounts",
    )
    for i, b in enumerate((b0, b1, b2)):
        clean.process_batch(b, i)
    want = _table(clean)
    assert want == {(1, "a2"), (2, "b-again"), (3, "c2")}

    path = str(tmp_path / "state")
    mat = StreamingMaterializer(
        spark, _snap_accounts(spark), keys=["id"], state_path=path,
        table="accounts",
    )
    mat.process_batch(b0, 0)
    assert len(storeio.runs(path)) == 1  # the empty base: next batch compacts

    real_swap = storeio.swap_in

    def crash_after_base_swap(df, target, *a, **kw):
        real_swap(df, target, *a, **kw)
        if target == path:
            raise RuntimeError("injected crash: base swapped, runs not deleted")

    monkeypatch.setattr(storeio, "swap_in", crash_after_base_swap)
    try:
        mat.process_batch(b1, 1)
        raise AssertionError("injected crash did not surface")
    except RuntimeError:
        pass
    monkeypatch.setattr(storeio, "swap_in", real_swap)

    runs_dir = path + storeio.RUNS_SUFFIX
    assert len(os.listdir(runs_dir)) == 1  # the folded run is still there ...
    assert storeio.runs(path) == []  # ... but no longer live
    assert _table(mat) == {(1, "a2"), (3, "c")}  # the state after batch 1

    mat.process_batch(b1, 1)  # redelivery of the uncommitted batch
    mat.process_batch(b2, 2)
    assert _table(mat) == want

    restarted = StreamingMaterializer(
        spark, _snap_accounts(spark), keys=["id"], state_path=path,
        table="accounts",
    )
    assert _table(restarted) == want
    live = {os.path.basename(r) for r in storeio.runs(path)}
    assert set(os.listdir(runs_dir)) == live  # init swept the leftover


def test_runs_stay_bounded_and_reads_are_latest_wins(spark, tmp_path):
    """Twenty single-row batches, delivered out of position order: at
    most MAX_RUNS runs exist after any batch, and the state read equals
    a latest-wins fold in Python, tombstones included. A DDL batch
    compacts and leaves no run."""
    n = 3000
    path = str(tmp_path / "state")
    mat = StreamingMaterializer(
        spark, _big_snap(spark, n), keys=["id"], state_path=path,
        table="accounts",
    )
    # key -> (pos, v, op); the snapshot rows sit at pos "" (below all)
    want = {i: ("", f"s{i}", "insert") for i in range(1000, 1000 + n)}
    order = [7, 2, 15, 0, 11, 19, 4, 9, 13, 1, 17, 6, 3, 18, 10, 5, 14, 8, 16, 12]
    counts = []
    for batch_id, k in enumerate(order):
        key = 1000 + (k % 5) if k % 3 else 90_000 + k % 4  # overlapping keys
        op = ("insert", "update", "update", "delete")[k % 4]
        pos = format_pos(500 + k)
        ev = _acct_ev(op, key, 500 + k, v=f"v{k}")
        mat.process_batch(changelog_df(spark, [ev]), batch_id)
        if key not in want or pos > want[key][0]:
            want[key] = (pos, None if op == "delete" else f"v{k}", op)
        counts.append(len(storeio.runs(path)))
        assert counts[-1] <= MAX_RUNS
        got = {r["id"]: (r["__pos"], r["v"], r["__op"]) for r in mat.state().collect()}
        assert got == want, batch_id
    assert max(counts) == MAX_RUNS and 0 in counts  # the count rule fired
    live = {k: (v,) for k, (_, v, op) in want.items() if op != "delete"}
    assert {r.id: (r.v,) for r in mat.read_table().collect()} == live

    ddl = _acct_ev("ddl", 0, 900)
    ddl["data"] = {"query": "ALTER TABLE accounts ADD COLUMN note varchar(40)"}
    mat.process_batch(changelog_df(spark, [ddl]), len(order))
    assert storeio.runs(path) == []
    out = mat.read_table()
    assert "note" in out.columns
    assert {r.id: (r.v,) for r in out.collect()} == live
