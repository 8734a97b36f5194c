"""incremental_mode (the 9th IVM algebra): maintained (group, value)
counts + top-1 read must equal the recompute from the merged table."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from go_cdc_spark.operators.cdc import (
    apply_changes,
    incremental_mode,
    mode_read,
)


def _snap(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, grp=g, val=v) for i, g, v in rows],
        "id long, grp string, val string",
    )


def _changes(spark, evs):
    return spark.createDataFrame(
        [
            Row(id=i, grp=g, val=v, pos=f"{p:012d}", op=op)
            for op, p, i, g, v in evs
        ],
        "id long, grp string, val string, pos string, op string",
    )


def _run(spark, snap_rows, evs):
    snap = _snap(spark, snap_rows)
    ch = _changes(spark, evs)
    got = incremental_mode(
        snap, ch, keys=["id"], group_cols=["grp"], val_col="val"
    )
    merged = apply_changes(snap, ch, keys=["id"])
    want = (
        merged.filter(F.col("val").isNotNull())
        .groupBy("grp", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w, f"\ngot  {g}\nwant {w}"
    gm = sorted(map(tuple, mode_read(got, ["grp"], "val").collect()))
    wm = sorted(map(tuple, mode_read(want, ["grp"], "val").collect()))
    assert gm == wm
    return gm


def test_moves_deletes_and_tie_break(spark):
    rows = [(1, "a", "x"), (2, "a", "x"), (3, "a", "y"), (4, "b", "z")]
    modes = _run(spark, rows, [
        ("update", 101, 2, "a", "y"),   # x:1 y:2 -> mode y
        ("delete", 102, 3, "a", None),  # x:1 y:1 -> tie, smaller value x wins
        ("insert", 103, 5, "b", "z"),
    ])
    assert modes == [("a", "x", 1), ("b", "z", 2)]


def test_random_interleavings_match_recompute(spark):
    rng = random.Random(7)
    vals = ["u", "v", "w", "x"]
    rows = [(i, f"g{i % 3}", rng.choice(vals)) for i in range(1, 25)]
    live = {i for i, _, _ in rows}
    evs, pos = [], 100
    for _ in range(50):
        pos += 1
        i = rng.randint(1, 35)
        g = f"g{rng.randint(0, 3)}"
        if i in live and rng.random() < 0.3:
            live.discard(i)
            evs.append(("delete", pos, i, g, None))
        else:
            live.add(i)
            op = "update" if i in live else "insert"
            evs.append((op, pos, i, g, rng.choice(vals)))
    _run(spark, rows, evs)
