"""incremental_topk: the maintained per-group top-k must equal the
top-k recomputed from the merged table — the rank-k runner-up problem
(a retraction inside the top-k needs the (k+1)-th row) handled by the
scoped touched-group rescan."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from go_cdc_spark.operators.cdc import (
    _topk_rows,
    apply_changes,
    incremental_topk,
)

K = 2


def _snap(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, grp=g, val=float(v)) for i, g, v in rows]
    )


def _changes(spark, evs):
    return spark.createDataFrame(
        [
            Row(id=i, grp=g, val=(None if v is None else float(v)),
                pos=f"{p:012d}", op=op)
            for op, p, i, g, v in evs
        ]
    )


def _run(spark, snap_rows, evs, base_mv=True):
    snap = _snap(spark, snap_rows)
    ch = _changes(spark, evs)
    base = _topk_rows(snap, ["grp"], ["id"], "val", K) if base_mv else None
    got = incremental_topk(
        snap, ch, keys=["id"], group_cols=["grp"], val_col="val", k=K,
        base_topk=base,
    )
    merged = apply_changes(snap, ch, keys=["id"])
    want = _topk_rows(merged, ["grp"], ["id"], "val", K)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w, f"\ngot  {g}\nwant {w}"
    return g


def test_delete_inside_topk_surfaces_runner_up(spark):
    rows = [(1, "a", 50), (2, "a", 40), (3, "a", 30), (4, "a", 20)]
    out = _run(spark, rows, [("delete", 101, 2, "a", 40)])
    # 3 (the old rank-3) must enter at rank 2
    assert ("a", 1, 50.0, 1) in out and ("a", 3, 30.0, 2) in out


def test_group_migration_reranks_both_groups(spark):
    rows = [(1, "a", 50), (2, "a", 40), (3, "a", 30),
            (4, "b", 9), (5, "b", 8)]
    # top-a row moves to group b with a new value that tops b
    out = _run(spark, rows, [("update", 101, 1, "b", 99)])
    assert ("a", 2, 40.0, 1) in out and ("a", 3, 30.0, 2) in out
    assert ("b", 1, 99.0, 1) in out and ("b", 4, 9.0, 2) in out


def test_untouched_groups_come_from_mv(spark):
    """Survivor groups must flow from the supplied MV without a base
    re-rank: poison the MV's untouched group and observe the poison in
    the output (proves the anti-join path), while touched groups are
    honestly rescanned."""
    snap = _snap(spark, [(1, "a", 50), (2, "a", 40), (3, "b", 30)])
    base = _topk_rows(snap, ["grp"], ["id"], "val", K)
    poison = base.withColumn(
        "val", F.when(F.col("grp") == "b", F.lit(-1.0)).otherwise(F.col("val"))
    )
    got = incremental_topk(
        snap, _changes(spark, [("insert", 101, 9, "a", 45)]),
        keys=["id"], group_cols=["grp"], val_col="val", k=K, base_topk=poison,
    )
    rows = {tuple(r) for r in got.collect()}
    assert ("b", 3, -1.0, 1) in rows, "untouched group must come from the MV"
    assert ("a", 1, 50.0, 1) in rows and ("a", 9, 45.0, 2) in rows


def test_random_interleavings_match_recompute(spark):
    rng = random.Random(7)
    rows = [(i, f"g{i % 4}", rng.randint(1, 99)) for i in range(1, 25)]
    live = {i for i, _, _ in rows}
    evs, pos = [], 100
    for _ in range(30):
        pos += 1
        i = rng.randint(1, 30)
        g = f"g{rng.randint(0, 4)}"  # g4 appears only via changes
        if i in live and rng.random() < 0.4:
            live.discard(i)
            evs.append(("delete", pos, i, g, None))
        elif i in live:
            evs.append(("update", pos, i, g, rng.randint(1, 99)))
        else:
            live.add(i)
            evs.append(("insert", pos, i, g, rng.randint(1, 99)))
    _run(spark, rows, evs)
    _run(spark, rows, evs, base_mv=False)  # derive-from-snapshot path too


def test_value_ties_break_deterministically(spark):
    rows = [(1, "a", 10), (2, "a", 10), (3, "a", 10)]
    out = _run(spark, rows, [("insert", 101, 4, "a", 10)])
    assert out == [("a", 1, 10.0, 1), ("a", 2, 10.0, 2)]
