"""Poison change rows: an event whose value fails to decode to its
column type fails the batch with an error naming the table — never
silently vanishes."""

from __future__ import annotations

import pytest

from go_cdc_spark.sources.changelog import format_pos
from go_cdc_spark.streaming.pipeline import StreamingMaterializer

from .test_streaming import _ev, _run_available, _snapshot, _write_segment

SNAP = [(1, "alice", 10.0), (2, "bob", 20.0)]


def _key_poison():
    bad = _ev("insert", 9, 115, name="ghost", balance="9.9", minute=2)
    bad["data"]["id"] = "not-a-number"  # key cannot decode to LongType
    return bad


def _non_key_poison():
    bad = _ev("insert", 5, 117, name="eve", balance="9.9", minute=2)
    bad["data"]["balance"] = "not-a-double"
    return bad


@pytest.mark.parametrize(
    "poison", [_key_poison, _non_key_poison], ids=["key", "non_key"]
)
def test_poison_rows_fail_stop_without_quarantine(spark, tmp_path, poison):
    bad = poison()
    seg = tmp_path / "segments"
    _write_segment(seg, "seg1.json", [
        _ev("update", 1, 110, name="alice2", balance="11.0", minute=1),
        bad,
        _ev("insert", 4, 120, name="dave", balance="40.0", minute=3),
    ])
    mat = StreamingMaterializer(
        spark, _snapshot(spark, SNAP), ["id"], str(tmp_path / "state"),
        pos_threshold=format_pos(100), table="accounts",
    )
    with pytest.raises(Exception) as err:
        q = _run_available(mat, spark, seg, tmp_path / "ckpt")
        if q.exception() is not None:  # awaitTermination may swallow
            raise q.exception()
    msg = str(err.value)
    assert "table 'accounts'" in msg
    assert "a value does not decode to its column type" in msg
    assert "quarantine_path" not in msg
    # the batch failed whole: nothing of it reached the state
    state = {r["id"]: r["name"] for r in mat.read_table().collect()}
    assert state == {1: "alice", 2: "bob"}
