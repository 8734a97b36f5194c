"""incremental_histogram: the maintained fixed-bin histogram (and its
quantile read) must equal the recompute from the merged table — pure
signed deltas, the fully-foldable IVM case."""

from __future__ import annotations

import random

from pyspark.sql import Row

from go_cdc_spark.operators.cdc import (
    _bin_expr,
    apply_changes,
    histogram_percentiles,
    incremental_histogram,
)

LO, HI, BINS = 0.0, 100.0, 10


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


def _run(spark, snap_rows, evs):
    from pyspark.sql import functions as F

    snap = _snap(spark, snap_rows)
    ch = _changes(spark, evs)
    got = incremental_histogram(
        snap, ch, keys=["id"], group_cols=["grp"], val_col="val",
        lo=LO, hi=HI, nbins=BINS,
    )
    merged = apply_changes(snap, ch, keys=["id"])
    want = (
        merged.filter(F.col("val").isNotNull())
        .groupBy("grp", _bin_expr("val", LO, HI, BINS).alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w, f"\ngot  {g}\nwant {w}"
    # the quantile read agrees too
    gq = sorted(map(tuple, histogram_percentiles(got, ["grp"]).collect()))
    wq = sorted(map(tuple, histogram_percentiles(want, ["grp"]).collect()))
    assert gq == wq
    return g


def test_signed_deltas_handle_moves_and_deletes(spark):
    rows = [(1, "a", 5), (2, "a", 15), (3, "a", 95), (4, "b", 50)]
    _run(spark, rows, [
        ("update", 101, 2, "a", 85),        # bin move within group
        ("update", 102, 3, "b", 95),        # group migration
        ("delete", 103, 1, "a", None),
        ("insert", 104, 5, "a", 200),       # clamps to the top bin
        ("insert", 105, 6, "a", -7),        # clamps to bin 0
    ])


def test_null_values_are_invisible(spark):
    rows = [(1, "a", 5), (2, "a", None)]
    out = _run(spark, rows, [("update", 101, 1, "a", None),
                             ("insert", 102, 3, "a", 42)])
    assert out == [("a", 4, 1)]  # only the non-null insert remains


def test_random_interleavings_match_recompute(spark):
    rng = random.Random(11)
    rows = [(i, f"g{i % 3}", rng.randint(0, 100)) for i in range(1, 30)]
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
            evs.append(("update", pos, i, g, rng.randint(-20, 120)))
        else:
            live.add(i)
            evs.append(("insert", pos, i, g, rng.randint(-20, 120)))
    _run(spark, rows, evs)
