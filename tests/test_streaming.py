"""Streaming tests (SURVEY.md §5.4): changelog replay → foreachBatch
MERGE, restart-from-checkpoint without double-apply (A18 recovery)."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import types as T

from go_cdc_spark.sources.changelog import format_pos
from go_cdc_spark.sources.meta import CheckpointStore
from go_cdc_spark.streaming.pipeline import (
    StreamingMaterializer,
    read_changelog_stream,
)

ACCOUNTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def _ev(op, id_, pos, name=None, balance=None, minute=0):
    e = {
        "data_source": "ds1",
        "schema": "bank",
        "table": "accounts",
        "op": op,
        "ts": f"2024-01-01T00:{minute:02d}:00.000000",
        "pos": format_pos(pos),
        "txn_id": f"uuid1:{pos}",
    }
    if op in ("insert", "update"):
        e["data"] = {"id": str(id_), "name": name, "balance": str(balance)}
    else:
        e["before"] = {"id": str(id_)}
    return e


def _write_segment(dirpath, name, events):
    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    with open(p, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _snapshot(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, name=n, balance=b) for i, n, b in rows], ACCOUNTS_SCHEMA
    )


def _run_available(mat, spark, seg_dir, ckpt):
    stream = read_changelog_stream(spark, str(seg_dir), max_files_per_trigger=1)
    q = mat.start(stream, str(ckpt))
    q.awaitTermination(120)
    return q


def test_materialize_stream_end_to_end(spark, tmp_path):
    seg = tmp_path / "segments"
    _write_segment(seg, "seg1.json", [
        _ev("update", 1, 110, name="alice2", balance="11.0", minute=1),
        _ev("insert", 4, 120, name="dave", balance="40.0", minute=2),
    ])
    _write_segment(seg, "seg2.json", [
        _ev("update", 1, 90, name="stale", balance="9.0", minute=3),   # ≤ threshold
        _ev("delete", 2, 130, minute=4),
        _ev("update", 4, 125, name="dave1", balance="40.5", minute=5),
    ])
    snap = _snapshot(spark, [(1, "alice", 10.0), (2, "bob", 20.0)])
    meta = CheckpointStore(spark, str(tmp_path / "meta"))
    mat = StreamingMaterializer(
        spark, snap, keys=["id"], state_path=str(tmp_path / "state"),
        pos_threshold=format_pos(100), meta=meta, table="accounts",
    )
    _run_available(mat, spark, seg, tmp_path / "ckpt")
    state = {r.id: (r.name, r.balance) for r in mat.read_table().collect()}
    assert state == {1: ("alice2", 11.0), 4: ("dave1", 40.5)}
    # A21: watermark advanced to max applied pos
    assert meta.get_pos("ds1", None, "accounts") == format_pos(130)


def test_restart_from_checkpoint_no_double_apply(spark, tmp_path):
    """A18 recovery: stop, add segments, restart with the same checkpoint
    — earlier segments must not re-apply (state already contains them)."""
    seg = tmp_path / "segments"
    _write_segment(seg, "seg1.json", [
        _ev("insert", 10, 110, name="x", balance="1.0", minute=1),
    ])
    snap = _snapshot(spark, [])
    mat = StreamingMaterializer(
        spark, snap, keys=["id"], state_path=str(tmp_path / "state"),
        pos_threshold=format_pos(100),
    )
    _run_available(mat, spark, seg, tmp_path / "ckpt")
    assert {r.id for r in mat.read_table().collect()} == {10}

    # late pre-delete image must NOT resurrect a deleted row
    _write_segment(seg, "seg2.json", [
        _ev("delete", 10, 140, minute=2),
        _ev("update", 10, 120, name="late", balance="2.0", minute=3),
    ])
    _run_available(mat, spark, seg, tmp_path / "ckpt")
    assert mat.read_table().count() == 0

    # restart again with nothing new: still empty, no errors
    _run_available(mat, spark, seg, tmp_path / "ckpt")
    assert mat.read_table().count() == 0




def test_declared_key_not_unique_in_snapshot_is_refused(spark, tmp_path):
    """The MERGE keeps one row per key, so a snapshot with duplicate
    declared keys would lose rows silently at the first batch; first
    init refuses it instead. A restart over existing state does not
    re-check (the state is the authority then)."""
    import os

    import pytest

    dup = _snapshot(spark, [(1, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0)])
    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match=r"not unique.*\{'id': 1\} appears 2 times"):
        StreamingMaterializer(spark, dup, keys=["id"], state_path=state, table="accounts")
    assert not os.path.exists(state)

    ok = _snapshot(spark, [(1, "a", 1.0), (2, "c", 3.0)])
    StreamingMaterializer(spark, ok, keys=["id"], state_path=state)
    restarted = StreamingMaterializer(spark, dup, keys=["id"], state_path=state)
    assert restarted.read_table().count() == 2
