"""CDC golden-sequence + property tests (SURVEY.md §5.2, §5.5).

The accounts fixture from FIXTURES.md §B: a seeded snapshot plus an
interleaved insert/update/delete changelog including (a) events at or
below the snapshot position, which MUST be discarded, and (b) duplicate
redelivery, which must not double-apply — the handoff rule of the
reference design doc (docs/全量抓取逻辑.md:44-52).
"""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_cdc_spark.operators.cdc import apply_changes, cdc_collapse, materialize_changelog
from go_cdc_spark.sources.changelog import CHANGE_EVENT_SCHEMA, changelog_df, format_pos
from go_cdc_spark.sources.meta import CheckpointStore

ACCOUNTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DecimalType(12, 2)),
    ]
)


def _event(op, id_, pos, name=None, balance=None, before=None):
    data = None
    if op in ("insert", "update"):
        data = {"id": str(id_), "name": name, "balance": str(balance)}
    elif before is None:
        before = {"id": str(id_)}  # deletes carry the key in the before-image
    return {
        "data_source": "ds1",
        "schema": "bank",
        "table": "accounts",
        "op": op,
        "data": data,
        "before": before,
        "ts": None,
        "pos": format_pos(pos),
        "txn_id": f"uuid1:{pos}",
    }


def _snapshot(spark, rows):
    from decimal import Decimal

    return spark.createDataFrame(
        [Row(id=i, name=n, balance=Decimal(b)) for i, n, b in rows], ACCOUNTS_SCHEMA
    )


def test_golden_sequence(spark):
    # snapshot taken at pos 100: ids 1..3
    snap = _snapshot(spark, [(1, "alice", "10.00"), (2, "bob", "20.00"), (3, "carol", "30.00")])
    events = [
        _event("update", 1, 90, name="alice_old", balance="9.99"),   # ≤100: discard
        _event("delete", 3, 95),                                      # ≤100: discard
        _event("update", 1, 110, name="alice2", balance="11.00"),
        _event("update", 1, 110, name="alice2", balance="11.00"),     # duplicate redelivery
        _event("insert", 4, 120, name="dave", balance="40.00"),
        _event("update", 4, 130, name="dave2", balance="41.00"),
        _event("delete", 2, 140),
        _event("insert", 2, 150, name="bob_back", balance="22.00"),   # re-insert after delete
        _event("delete", 5, 160),                                     # delete of never-seen key
    ]
    random.Random(7).shuffle(events)  # arrival order must not matter
    changes = changelog_df(spark, events)
    got = materialize_changelog(changes, snap, keys=["id"], pos_threshold=format_pos(100))
    state = {r.id: (r.name, str(r.balance)) for r in got.collect()}
    assert state == {
        1: ("alice2", "11.00"),
        2: ("bob_back", "22.00"),
        3: ("carol", "30.00"),  # the ≤100 delete was already in the snapshot's past
        4: ("dave2", "41.00"),
    }


def test_cdc_collapse_keeps_deletes_when_asked(spark):
    changes = changelog_df(
        spark,
        [
            _event("insert", 1, 10, name="a", balance="1.00"),
            _event("delete", 1, 20),
        ],
    )
    latest = cdc_collapse(changes, ["table"], pos_col="pos", keep_deletes=True)
    assert latest.count() == 1 and latest.first().op == "delete"
    assert cdc_collapse(changes, ["table"], pos_col="pos").count() == 0


def _replay_dict(events, snapshot, threshold):
    """Sequential replay oracle: a plain dict applied in pos order."""
    state = dict(snapshot)
    for e in sorted(events, key=lambda e: e["pos"]):
        if e["pos"] <= threshold:
            continue
        key = int(e["data"]["id"]) if e["data"] else e["_key"]
        if e["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = (e["data"]["name"], e["data"]["balance"])
    return state


def test_property_random_interleavings(spark):
    """Collapsing with apply_changes equals replaying sequentially into a
    dict, across random interleavings (lightweight property test)."""
    rng = random.Random(42)
    for trial in range(3):
        snap_rows = [(i, f"u{i}", f"{i}.00") for i in range(1, 6)]
        events = []
        pos = 101
        for _ in range(60):
            key = rng.randint(1, 8)
            op = rng.choice(["insert", "update", "delete"])
            if op == "delete":
                e = _event("delete", key, pos)
                e["_key"] = key
                e["data"] = None
            else:
                e = _event(op, key, pos, name=f"n{pos}", balance=f"{pos}.50")
                e["_key"] = key
            events.append(e)
            pos += rng.randint(1, 3)
        threshold = format_pos(120)
        expected = _replay_dict(
            [dict(e, pos=e["pos"]) for e in events],
            {i: (n, b) for i, n, b in snap_rows},
            threshold,
        )
        shuffled = events[:]
        rng.shuffle(shuffled)
        changes = changelog_df(spark, [{k: v for k, v in e.items() if k != "_key"} for e in shuffled])
        snap = _snapshot(spark, snap_rows)
        got = materialize_changelog(changes, snap, keys=["id"], pos_threshold=threshold)
        state = {r.id: (r.name, str(r.balance)) for r in got.collect()}
        # normalize expected balances to Decimal(12,2) string form
        expected = {k: (n, f"{float(b):.2f}") for k, (n, b) in expected.items()}
        assert state == expected, f"trial {trial}"


def test_delete_events_carry_no_after_image(spark):
    changes = changelog_df(spark, [_event("delete", 9, 10, before={"id": "9"})])
    row = changes.first()
    assert row.data is None and row.before == {"id": "9"}
    assert changes.schema == CHANGE_EVENT_SCHEMA


def test_checkpoint_store_roundtrip(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "meta"))
    assert store.get_pos("ds1") is None
    store.upsert("ds1", "uuid1:1-100", sync_type="full")
    store.upsert("ds1", format_pos(100), sc="bank", tb="accounts")
    assert store.get_pos("ds1") == "uuid1:1-100"
    assert store.get_pos("ds1", "bank", "accounts") == format_pos(100)
    # update-in-place, not append (find-then-save semantics)
    store.upsert("ds1", format_pos(200), sc="bank", tb="accounts")
    assert store.get_pos("ds1", "bank", "accounts") == format_pos(200)
    assert len(store.all()) == 2
