"""incremental_stats: maintained per-group power sums (n, n_vals, Σv,
Σv²) must equal the recompute from the merged table BIT-FOR-BIT — the
decimal accumulation is what makes signed retraction exact."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from go_cdc_spark.operators.cdc import apply_changes, incremental_stats


def _snap(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, grp=g, val=(None if v is None else float(v))) for i, g, v in rows]
    )


def _changes(spark, evs):
    return spark.createDataFrame(
        [
            Row(id=i, grp=g, val=(None if v is None else float(v)),
                pos=f"{p:012d}", op=op)
            for op, p, i, g, v in evs
        ]
    )


def _recompute_sums(merged):
    v = F.col("val")
    return merged.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("val").cast("long").alias("n_vals"),
        F.sum(v.cast("decimal(18,6)")).cast("decimal(38,6)").alias("sum_val"),
        F.sum((v * v).cast("decimal(28,6)")).cast("decimal(38,6)").alias("sum_sq"),
    )


def _run(spark, snap_rows, evs, base_mv=False):
    snap = _snap(spark, snap_rows)
    ch = _changes(spark, evs)
    base = _recompute_sums(snap) if base_mv else None
    got = incremental_stats(
        snap, ch, keys=["id"], group_cols=["grp"], val_col="val", base_stats=base
    )
    want = _recompute_sums(apply_changes(snap, ch, keys=["id"]))
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w, f"\ngot  {g}\nwant {w}"
    return g


def test_moves_deletes_and_group_migration(spark):
    rows = [(1, "a", 5), (2, "a", 15), (3, "a", 95), (4, "b", 50)]
    _run(spark, rows, [
        ("update", 101, 2, "a", 85),    # value change within group
        ("update", 102, 3, "b", 95),    # group migration
        ("delete", 103, 1, "a", None),
        ("insert", 104, 5, "a", 200.25),
    ])


def test_null_values_count_rows_not_sums(spark):
    rows = [(1, "a", 5), (2, "a", None)]
    out = _run(spark, rows, [("update", 101, 1, "a", None),
                             ("insert", 102, 3, "a", 42)])
    # 3 rows live, exactly one non-null value (42)
    assert [(r[0], r[1], r[2], float(r[3]), float(r[4])) for r in out] == [
        ("a", 3, 1, 42.0, 1764.0)
    ]


def test_whole_group_retraction_vanishes(spark):
    rows = [(1, "a", 5), (2, "b", 7)]
    out = _run(spark, rows, [("delete", 101, 1, "a", 5)])
    assert [r[0] for r in out] == ["b"]


def test_stored_mv_path_matches_recompute(spark):
    rng = random.Random(7)
    rows = [(i, f"g{i % 3}", rng.uniform(-50, 150)) for i in range(1, 30)]
    evs = [("update", 100 + k, rng.randint(1, 35), f"g{rng.randint(0, 3)}",
            rng.uniform(-50, 150)) for k in range(15)]
    assert _run(spark, rows, evs, base_mv=True) == _run(spark, rows, evs)


def test_random_interleavings_match_recompute(spark):
    rng = random.Random(13)
    rows = [(i, f"g{i % 3}", rng.uniform(0, 100)) for i in range(1, 30)]
    live = {i for i, _, _ in rows}
    evs, pos = [], 100
    for _ in range(40):
        pos += 1
        i = rng.randint(1, 40)
        g = f"g{rng.randint(0, 3)}"
        if i in live and rng.random() < 0.35:
            live.discard(i)
            evs.append(("delete", pos, i, g, None))
        elif i in live:
            evs.append(("update", pos, i, g, rng.uniform(-20, 120)))
        else:
            live.add(i)
            evs.append(("insert", pos, i, g, rng.uniform(-20, 120)))
    _run(spark, rows, evs)
