"""Incremental view maintenance: every batch ``incremental_*`` operator
must equal the aggregate recomputed from the ``apply_changes`` MERGE
output — for every interleaving of inserts, group-moving updates, and
deletes — and the streaming fold (``IncrementalGrid``) must survive torn
swaps and replays through its run-scoped batch stamp."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_cdc_spark.sources.changelog import format_pos


def _ev(op, pos, id_, grp=None, val=None, before=None):
    e = {
        "data_source": "ds1",
        "schema": "s",
        "table": "t",
        "op": op,
        "ts": "2024-01-01T00:00:00.000000",
        "pos": format_pos(pos),
        "txn_id": None,
    }
    if op in ("insert", "update"):
        e["data"] = {"id": str(id_), "grp": grp, "val": str(val)}
    if op in ("update", "delete"):
        assert before is not None, "update/delete need a full before-image"
        e["before"] = {"id": str(id_), "grp": before[0], "val": str(before[1])}
    return e


# ---------------------------------------------------------------------------
# Batch IVM (operators/cdc.py::incremental_agg), minimal-image: the
# before-image is looked up from the base table by key instead of carried
# on the event. Ground truth: aggregate the apply_changes MERGE output.
# ---------------------------------------------------------------------------


def _batch_fixture(spark):
    from pyspark.sql import Row

    snap = spark.createDataFrame(
        [
            Row(id=1, grp="a", val=10.0),
            Row(id=2, grp="a", val=20.0),
            Row(id=3, grp="b", val=30.0),
            Row(id=4, grp="c", val=40.0),
        ]
    )
    changes = spark.createDataFrame(
        [
            # pre-threshold event: must be discarded by the handoff rule
            Row(id=1, grp="a", val=999.0, pos="001", op="update"),
            # same key twice: latest (pos 005) wins
            Row(id=2, grp="b", val=7.0, pos="003", op="update"),
            Row(id=2, grp="b", val=25.0, pos="005", op="update"),  # a→b migration
            Row(id=3, grp="b", val=30.0, pos="004", op="delete"),
            Row(id=4, grp="c", val=40.0, pos="006", op="delete"),  # c vanishes
            Row(id=5, grp="d", val=50.0, pos="007", op="insert"),  # new group
            # update for a key absent from the base → upsert (insert)
            Row(id=6, grp="a", val=5.0, pos="008", op="update"),
        ]
    )
    return snap, changes


def _expected_agg(snap, changes):
    from go_cdc_spark.operators.cdc import apply_changes

    merged = apply_changes(snap, changes, keys=["id"], pos_threshold="002")
    return {
        r["grp"]: (r["n"], r["s"])
        for r in merged.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
        .collect()
    }


def test_batch_ivm_equals_merge_then_aggregate(spark):
    from go_cdc_spark.operators.cdc import incremental_agg

    snap, changes = _batch_fixture(spark)
    got = {
        r["grp"]: (r["n"], float(r["sum_val"]))
        for r in incremental_agg(
            snap, changes, keys=["id"], group_cols=["grp"],
            sum_cols=["val"], pos_threshold="002",
        ).collect()
    }
    assert got == _expected_agg(snap, changes)
    # explicit shape checks the dict-compare implies: c vanished, d is new
    assert "c" not in got and got["d"] == (1, 50.0)


def test_batch_ivm_with_precomputed_base_agg(spark):
    """The stored-MV path: base_agg supplied, base table only key-probed."""
    from go_cdc_spark.operators.cdc import incremental_agg
    from go_cdc_spark.operators.relational import DEC

    snap, changes = _batch_fixture(spark)
    base_agg = snap.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("val").cast(DEC)).cast("decimal(38,6)").alias("sum_val"),
    )
    got = {
        r["grp"]: (r["n"], float(r["sum_val"]))
        for r in incremental_agg(
            snap, changes, keys=["id"], group_cols=["grp"],
            sum_cols=["val"], pos_threshold="002", base_agg=base_agg,
        ).collect()
    }
    assert got == _expected_agg(snap, changes)


def test_batch_ivm_random_interleavings(spark):
    """Property check: random op soups over a small key space — IVM must
    track merge-then-aggregate for every interleaving, including deletes
    of absent keys and repeated group migrations."""
    from pyspark.sql import Row

    from go_cdc_spark.operators.cdc import incremental_agg

    rng = random.Random(7)
    snap_rows = [Row(id=i, grp=rng.choice("abc"), val=float(i)) for i in range(1, 9)]
    snap = spark.createDataFrame(snap_rows)
    for trial in range(3):
        ch = [
            Row(
                id=rng.randint(1, 12),
                grp=rng.choice("abcd"),
                val=float(rng.randint(0, 99)),
                pos=str(p).zfill(3),
                op=rng.choice(["insert", "update", "update", "delete"]),
            )
            for p in range(1, 20)
        ]
        changes = spark.createDataFrame(ch)
        got = {
            r["grp"]: (r["n"], float(r["sum_val"]))
            for r in incremental_agg(
                snap, changes, keys=["id"], group_cols=["grp"],
                sum_cols=["val"], pos_threshold="002",
            ).collect()
        }
        assert got == _expected_agg(snap, changes), f"trial {trial}"


def _expected_minmax(snap, changes):
    from go_cdc_spark.operators.cdc import apply_changes

    merged = apply_changes(snap, changes, keys=["id"], pos_threshold="002")
    return {
        r["grp"]: (r["mn"], r["mx"])
        for r in merged.groupBy("grp")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .collect()
    }


def _got_minmax(spark, snap, changes, **kw):
    from go_cdc_spark.operators.cdc import incremental_minmax

    return {
        r["grp"]: (r["min_val"], r["max_val"])
        for r in incremental_minmax(
            snap, changes, keys=["id"], group_cols=["grp"],
            val_col="val", pos_threshold="002", **kw,
        ).collect()
    }


def test_batch_minmax_extreme_retraction_repairs(spark):
    """Deleting the row holding a group's max forces the repair path;
    the runner-up must surface. A duplicated min with one copy deleted
    dirties conservatively but must still return the same min."""
    from pyspark.sql import Row

    snap = spark.createDataFrame(
        [
            Row(id=1, grp="a", val=5.0),
            Row(id=2, grp="a", val=9.0),   # unique max
            Row(id=3, grp="a", val=5.0),   # duplicate min
            Row(id=4, grp="b", val=1.0),
        ]
    )
    changes = spark.createDataFrame(
        [
            Row(id=2, grp="a", val=9.0, pos="003", op="delete"),  # retract max
            Row(id=3, grp="a", val=5.0, pos="004", op="delete"),  # retract dup-min copy
        ]
    )
    got = _got_minmax(spark, snap, changes)
    assert got == {"a": (5.0, 5.0), "b": (1.0, 1.0)}
    assert got == _expected_minmax(snap, changes)


def test_batch_minmax_insert_only_tightens_without_repair(spark):
    from pyspark.sql import Row

    snap = spark.createDataFrame(
        [Row(id=1, grp="a", val=5.0), Row(id=2, grp="a", val=9.0)]
    )
    changes = spark.createDataFrame(
        [
            Row(id=7, grp="a", val=2.0, pos="003", op="insert"),   # new min
            Row(id=8, grp="c", val=4.0, pos="004", op="insert"),   # new group
        ]
    )
    got = _got_minmax(spark, snap, changes)
    assert got == {"a": (2.0, 9.0), "c": (4.0, 4.0)}
    assert got == _expected_minmax(snap, changes)


def test_batch_minmax_whole_group_retracted(spark):
    from pyspark.sql import Row

    snap = spark.createDataFrame(
        [Row(id=1, grp="a", val=5.0), Row(id=2, grp="b", val=3.0)]
    )
    changes = spark.createDataFrame(
        [Row(id=2, grp="b", val=3.0, pos="003", op="delete")]
    )
    got = _got_minmax(spark, snap, changes)
    assert got == {"a": (5.0, 5.0)}
    assert got == _expected_minmax(snap, changes)


def test_batch_minmax_random_interleavings(spark):
    from pyspark.sql import Row

    rng = random.Random(23)
    snap = spark.createDataFrame(
        [Row(id=i, grp=rng.choice("abc"), val=float(rng.randint(0, 50))) for i in range(1, 9)]
    )
    for trial in range(3):
        changes = spark.createDataFrame(
            [
                Row(
                    id=rng.randint(1, 12),
                    grp=rng.choice("abcd"),
                    val=float(rng.randint(0, 99)),
                    pos=str(p).zfill(3),
                    op=rng.choice(["insert", "update", "update", "delete"]),
                )
                for p in range(1, 20)
            ]
        )
        assert _got_minmax(spark, snap, changes) == _expected_minmax(snap, changes), f"trial {trial}"


def test_batch_ivm_rejects_colliding_group_cols(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from go_cdc_spark.operators.cdc import incremental_agg, incremental_minmax

    snap = spark.createDataFrame([Row(id=1, n="g", val=1.0)])
    changes = spark.createDataFrame(
        [Row(id=1, n="g", val=2.0, pos="003", op="update")]
    )
    with _pytest.raises(ValueError, match="collide"):
        incremental_agg(snap, changes, keys=["id"], group_cols=["n"], sum_cols=["val"])
    snap2 = spark.createDataFrame([Row(id=1, min_val="g", val=1.0)])
    changes2 = spark.createDataFrame(
        [Row(id=1, min_val="g", val=2.0, pos="003", op="update")]
    )
    with _pytest.raises(ValueError, match="collide"):
        incremental_minmax(snap2, changes2, keys=["id"], group_cols=["min_val"], val_col="val")


def test_batch_ivm_composite_keys(spark):
    """Composite primary key (id_a, id_b): the retraction semi-join and
    latest-wins collapse must treat the key as a tuple, not a column."""
    from pyspark.sql import Row

    from go_cdc_spark.operators.cdc import apply_changes, incremental_agg

    snap = spark.createDataFrame(
        [
            Row(id_a=1, id_b=1, grp="a", val=10.0),
            Row(id_a=1, id_b=2, grp="a", val=20.0),
            Row(id_a=2, id_b=1, grp="b", val=30.0),
        ]
    )
    changes = spark.createDataFrame(
        [
            # same id_a as an existing row but different id_b → distinct key
            Row(id_a=2, id_b=2, grp="b", val=5.0, pos="003", op="insert"),
            Row(id_a=1, id_b=2, grp="c", val=21.0, pos="004", op="update"),
            Row(id_a=1, id_b=1, grp="a", val=10.0, pos="005", op="delete"),
        ]
    )
    keys = ["id_a", "id_b"]
    got = {
        r["grp"]: (r["n"], float(r["sum_val"]))
        for r in incremental_agg(
            snap, changes, keys=keys, group_cols=["grp"],
            sum_cols=["val"], pos_threshold="002",
        ).collect()
    }
    merged = apply_changes(snap, changes, keys=keys, pos_threshold="002")
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in merged.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
        .collect()
    }
    # group "a" vanishes: (1,1) deleted, (1,2) migrated to "c"
    assert got == want == {"b": (2, 35.0), "c": (1, 21.0)}


def test_batch_minmax_null_values_follow_group_by_semantics(spark):
    """All-NULL groups survive with NULL extremes; NULL-valued
    retractions decrement existence without dirtying; a group emptied
    by NULL-row deletes vanishes."""
    from pyspark.sql import Row

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ])
    snap = spark.createDataFrame(
        [Row(id=1, grp="a", val=None), Row(id=2, grp="a", val=None),
         Row(id=3, grp="b", val=7.0)], schema
    )
    ch_schema = T.StructType([*schema.fields,
                              T.StructField("pos", T.StringType()),
                              T.StructField("op", T.StringType())])
    changes = spark.createDataFrame(
        [Row(id=1, grp="a", val=None, pos="003", op="delete"),
         Row(id=4, grp="c", val=None, pos="004", op="insert")], ch_schema
    )
    got = {r["grp"]: (r["min_val"], r["max_val"]) for r in _got_minmax_raw(spark, snap, changes)}
    # a: one NULL row left (exists, NULL extremes); b untouched;
    # c: new all-NULL group
    assert got == {"a": (None, None), "b": (7.0, 7.0), "c": (None, None)}
    changes2 = spark.createDataFrame(
        [Row(id=1, grp="a", val=None, pos="003", op="delete"),
         Row(id=2, grp="a", val=None, pos="004", op="delete")], ch_schema
    )
    got2 = {r["grp"]: (r["min_val"], r["max_val"]) for r in _got_minmax_raw(spark, snap, changes2)}
    assert got2 == {"b": (7.0, 7.0)}  # a fully emptied by NULL-row deletes


def _got_minmax_raw(spark, snap, changes):
    from go_cdc_spark.operators.cdc import incremental_minmax

    return incremental_minmax(
        snap, changes, keys=["id"], group_cols=["grp"],
        val_col="val", pos_threshold="002",
    ).collect()


# ---------------------------------------------------------------------------
# Batch join-view IVM (incremental_join)
# ---------------------------------------------------------------------------


def _join_fixture(spark):
    fact = spark.createDataFrame(
        [
            Row(id=1, fk=10, amt=1.0),
            Row(id=2, fk=10, amt=2.0),
            Row(id=3, fk=20, amt=3.0),
            Row(id=4, fk=30, amt=4.0),
        ]
    )
    dim = spark.createDataFrame(
        [
            Row(dk=10, name="ten"),
            Row(dk=20, name="twenty"),
            Row(dk=30, name="thirty"),
        ]
    )
    fchanges = spark.createDataFrame(
        [
            Row(id=1, fk=20, amt=99.0, pos="001", op="update"),  # pre-threshold
            Row(id=2, fk=20, amt=2.5, pos="003", op="update"),   # fk migration
            Row(id=3, fk=20, amt=3.0, pos="004", op="delete"),
            Row(id=5, fk=30, amt=5.0, pos="005", op="insert"),   # new fact
            Row(id=6, fk=40, amt=6.0, pos="006", op="insert"),   # dangling fk
        ]
    )
    dchanges = spark.createDataFrame(
        [
            Row(dk=10, name="TEN!", pos="007", op="update"),     # rename → fan-out
            Row(dk=30, name="thirty", pos="008", op="delete"),   # drops facts 4,5
            Row(dk=40, name="forty", pos="009", op="update"),    # new dim row
        ]
    )
    return fact, dim, fchanges, dchanges


def _expected_join(fact, dim, fchanges, dchanges):
    from go_cdc_spark.operators.cdc import apply_changes

    f_new = apply_changes(fact, fchanges, keys=["id"], pos_threshold="002")
    d_new = apply_changes(dim, dchanges, keys=["dk"], pos_threshold="002")
    joined = f_new.join(d_new.withColumnRenamed("dk", "fk"), on="fk").select(
        "id", "fk", "amt", "name"
    )
    return sorted(map(tuple, joined.collect()))


def _got_join(fact, dim, fchanges, dchanges, base_view=None):
    from go_cdc_spark.operators.cdc import incremental_join

    view = incremental_join(
        fact, fchanges, fact_keys=["id"],
        dim=dim, dim_changes=dchanges, dim_keys=["dk"], fk=["fk"],
        pos_threshold="002", base_view=base_view,
    )
    return sorted(map(tuple, view.select("id", "fk", "amt", "name").collect()))


def test_batch_join_ivm_equals_merge_then_join(spark):
    fact, dim, fchanges, dchanges = _join_fixture(spark)
    got = _got_join(fact, dim, fchanges, dchanges)
    exp = _expected_join(fact, dim, fchanges, dchanges)
    assert got == exp
    ids = {t[0] for t in got}
    # dim delete dropped facts 4 and 5; fact delete dropped 3; the
    # dangling-fk insert 6 was caught by the new dim row 40
    assert 3 not in ids and 4 not in ids and 5 not in ids and 6 in ids
    # the fan-out re-labeled fact 2's renamed dim? no — 2 migrated to 20;
    # fact 1 kept fk=10 (pre-threshold change discarded) and sees TEN!
    assert (1, 10, 1.0, "TEN!") in got


def test_batch_join_ivm_stored_mv_path_matches(spark):
    """base_view supplied (the deployed form): survivors come from the
    MV via anti-joins; result identical to the recompute-from-base path."""
    fact, dim, fchanges, dchanges = _join_fixture(spark)
    base_view = fact.join(dim.withColumnRenamed("dk", "fk"), on="fk").select(
        "id", "fk", "amt", "name"
    )
    got = _got_join(fact, dim, fchanges, dchanges, base_view=base_view)
    assert got == _expected_join(fact, dim, fchanges, dchanges)


def test_batch_join_ivm_fact_only_and_dim_only_streams(spark):
    fact, dim, fchanges, dchanges = _join_fixture(spark)
    empty_f = fchanges.limit(0)
    empty_d = dchanges.limit(0)
    assert _got_join(fact, dim, fchanges, empty_d) == _expected_join(
        fact, dim, fchanges, empty_d
    )
    assert _got_join(fact, dim, empty_f, dchanges) == _expected_join(
        fact, dim, empty_f, dchanges
    )


def test_batch_join_ivm_random_interleavings(spark):
    rng = random.Random(11)
    fact = spark.createDataFrame(
        [Row(id=i, fk=10 * rng.randint(1, 4), amt=float(i)) for i in range(1, 9)]
    )
    dim = spark.createDataFrame(
        [Row(dk=10 * k, name=f"d{k}") for k in range(1, 5)]
    )
    for trial in range(3):
        fch = spark.createDataFrame(
            [
                Row(
                    id=rng.randint(1, 12),
                    fk=10 * rng.randint(1, 5),
                    amt=float(rng.randint(0, 99)),
                    pos=str(p).zfill(3),
                    op=rng.choice(["insert", "update", "update", "delete"]),
                )
                for p in range(1, 16)
            ]
        )
        dch = spark.createDataFrame(
            [
                Row(
                    dk=10 * rng.randint(1, 5),
                    name=f"r{rng.randint(0, 99)}",
                    pos=str(p).zfill(3),
                    op=rng.choice(["update", "update", "delete"]),
                )
                for p in range(16, 24)
            ]
        )
        assert _got_join(fact, dim, fch, dch) == _expected_join(
            fact, dim, fch, dch
        ), f"trial {trial}"


# ---------------------------------------------------------------------------
# Batch COUNT(DISTINCT) IVM (incremental_distinct)
# ---------------------------------------------------------------------------


def _got_distinct(spark, snap, changes, base_distinct=None):
    from go_cdc_spark.operators.cdc import incremental_distinct

    return {
        r["grp"]: (r["n_distinct"], r["n"])
        for r in incremental_distinct(
            snap, changes, keys=["id"], group_cols=["grp"], val_col="val",
            pos_threshold="002", base_distinct=base_distinct,
        ).collect()
    }


def _expected_distinct(snap, changes):
    from go_cdc_spark.operators.cdc import apply_changes

    merged = apply_changes(snap, changes, keys=["id"], pos_threshold="002")
    return {
        r["grp"]: (r["nd"], r["n"])
        for r in merged.groupBy("grp")
        .agg(
            F.count_distinct("val").alias("nd"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }


def test_batch_distinct_support_counts_both_directions(spark):
    """Remove one of two equal values → distinct count unchanged;
    remove the last holder → decrement; first holder of a fresh value
    → increment."""
    snap = spark.createDataFrame(
        [
            Row(id=1, grp="a", val="x"),
            Row(id=2, grp="a", val="x"),   # duplicate support for (a, x)
            Row(id=3, grp="a", val="y"),
            Row(id=4, grp="b", val="z"),
        ]
    )
    changes = spark.createDataFrame(
        [
            Row(id=1, grp="a", val="x", pos="003", op="delete"),  # support 2→1
            Row(id=3, grp="a", val="y", pos="004", op="delete"),  # last y gone
            Row(id=5, grp="a", val="w", pos="005", op="insert"),  # fresh value
        ]
    )
    got = _got_distinct(spark, snap, changes)
    assert got == _expected_distinct(snap, changes)
    assert got["a"] == (2, 2)  # {x, w}


def test_batch_distinct_update_moves_value_and_group(spark):
    snap = spark.createDataFrame(
        [
            Row(id=1, grp="a", val="x"),
            Row(id=2, grp="b", val="x"),
        ]
    )
    changes = spark.createDataFrame(
        [
            # value change within a group AND group migration in one update
            Row(id=1, grp="b", val="q", pos="003", op="update"),
        ]
    )
    got = _got_distinct(spark, snap, changes)
    assert got == _expected_distinct(snap, changes)
    assert got == {"b": (2, 2)}  # a vanished; b = {x, q}


def test_batch_distinct_nulls_invisible_to_distinct_counted_by_n(spark):
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    ch_schema = T.StructType([*schema.fields,
                              T.StructField("pos", T.StringType()),
                              T.StructField("op", T.StringType())])
    snap = spark.createDataFrame(
        [Row(id=1, grp="a", val=None), Row(id=2, grp="a", val="x")], schema
    )
    changes = spark.createDataFrame(
        [Row(id=3, grp="a", val=None, pos="003", op="insert"),
         Row(id=2, grp="a", val=None, pos="004", op="update")], ch_schema
    )
    got = _got_distinct(spark, snap, changes)
    assert got == _expected_distinct(snap, changes)
    assert got == {"a": (0, 3)}  # all values NULL now; group persists


def test_batch_distinct_stored_mv_path(spark):
    snap = spark.createDataFrame(
        [Row(id=1, grp="a", val="x"), Row(id=2, grp="b", val="y")]
    )
    changes = spark.createDataFrame(
        [Row(id=2, grp="b", val="y2", pos="003", op="update")]
    )
    base = snap.groupBy("grp").agg(
        F.count_distinct("val").alias("n_distinct"),
        F.count(F.lit(1)).alias("n"),
    )
    got = _got_distinct(spark, snap, changes, base_distinct=base)
    assert got == _expected_distinct(snap, changes)


def test_batch_distinct_random_interleavings(spark):
    rng = random.Random(13)
    snap = spark.createDataFrame(
        [Row(id=i, grp=rng.choice("ab"), val=rng.choice("xyz"))
         for i in range(1, 9)]
    )
    for trial in range(3):
        ch = spark.createDataFrame(
            [
                Row(
                    id=rng.randint(1, 12),
                    grp=rng.choice("abc"),
                    val=rng.choice("wxyz"),
                    pos=str(p).zfill(3),
                    op=rng.choice(["insert", "update", "update", "delete"]),
                )
                for p in range(1, 20)
            ]
        )
        assert _got_distinct(spark, snap, ch) == _expected_distinct(
            snap, ch
        ), f"trial {trial}"


def test_batch_distinct_rejects_colliding_group_cols(spark):
    import pytest as _pytest

    from go_cdc_spark.operators.cdc import incremental_distinct

    snap = spark.createDataFrame([Row(id=1, n="a", val="x")])
    ch = spark.createDataFrame([Row(id=1, n="a", val="x", pos="003", op="update")])
    with _pytest.raises(ValueError, match="collide"):
        incremental_distinct(snap, ch, keys=["id"], group_cols=["n"], val_col="val")


# ---------------------------------------------------------------------------
# Streaming fold (IncrementalGrid): torn-swap recovery and the run-scoped
# replay stamp.
# ---------------------------------------------------------------------------


def _grid_batch(spark):
    """One insert event for the grid fold."""
    from go_cdc_spark.sources.changelog import changelog_df

    data = {"event_id": "1", "event_type": "click", "ts": "2024-03-01 00:10:00",
            "value": "10.0"}
    return changelog_df(spark, [{
        "data_source": "ds1", "schema": "main", "table": "events", "op": "insert",
        "data": data, "before": None, "ts": None, "pos": format_pos(1),
        "txn_id": None,
    }])


def _grid_rows(grid):
    return sorted(tuple(r) for r in grid.read_table().collect())


def test_storeio_stamp_run_id_scoping(spark, tmp_path):
    """applied_batch honors run identity: a stamp from checkpoint A is
    invisible to a run under checkpoint B (fresh checkpoints restart
    batch ids at 0 — honoring A's stamp would skip real batches), while
    legacy stamps without a run_id stay valid for everyone. keep_stamp
    repairs carry the run_id forward."""
    from go_cdc_spark import storeio

    path = str(tmp_path / "state")
    df = spark.range(3)
    storeio.swap_in(df, path, batch_id=5, run_id="ckptA")
    assert storeio.applied_batch(path) == 5                    # unscoped read
    assert storeio.applied_batch(path, run_id="ckptA") == 5    # same lineage
    assert storeio.applied_batch(path, run_id="ckptB") is None  # new lineage
    # out-of-band repair keeps both batch id and run identity
    storeio.swap_in(spark.range(2), path, keep_stamp=True)
    assert storeio.applied_batch(path, run_id="ckptA") == 5
    assert storeio.applied_batch(path, run_id="ckptB") is None
    # legacy stamp (no run_id) is valid under any lineage
    storeio.swap_in(spark.range(1), path, batch_id=7)
    assert storeio.applied_batch(path, run_id="ckptB") == 7


def test_consumer_init_recovers_torn_swap(spark, tmp_path):
    """A crash between swap_in's two renames leaves the state only at
    the .old- sibling. The fold must promote it back at construction
    (storeio.recover) — otherwise _state() returns None on restart and
    the replayed batch folds into EMPTY state: silent total state
    loss."""
    import os

    from go_cdc_spark.streaming.ivm import IncrementalGrid

    path = str(tmp_path / "s")
    ivm = IncrementalGrid(spark, path)
    ivm.process_batch(_grid_batch(spark), 0)
    want = _grid_rows(ivm)
    # simulate the torn swap: live dir demoted, promotion rename lost
    os.rename(path, path + ".old-deadbeef")
    restarted = IncrementalGrid(spark, path)
    assert _grid_rows(restarted) == want
    # same checkpoint identity on restart → the recovered stamp still
    # absorbs the replay of the in-flight batch
    restarted._run_id = ivm._run_id
    restarted.process_batch(_grid_batch(spark), 0)
    assert _grid_rows(restarted) == want


def test_stamp_always_carries_run_id(spark, tmp_path):
    """Direct process_batch calls (no start()) must still stamp with a
    run identity: a state dir seeded that way and later attached to a
    DIFFERENT run must not have its seeding stamp honored — ids mean
    nothing under the new run's numbering."""
    import json
    import os

    from go_cdc_spark import storeio
    from go_cdc_spark.streaming.ivm import IncrementalGrid

    path = str(tmp_path / "s")
    ivm = IncrementalGrid(spark, path)
    ivm.process_batch(_grid_batch(spark), 5)
    with open(os.path.join(path, "_applied_batch.json")) as f:
        stamp = json.load(f)
    assert stamp["batch_id"] == 5 and stamp.get("run_id")  # never unscoped
    # the seeding instance itself still skips its own replays ...
    assert storeio.applied_batch(path, run_id=ivm._run_id) == 5
    # ... but a foreign run does not inherit the seed's stamp
    assert storeio.applied_batch(path, run_id=str(tmp_path / "fresh_ckpt")) is None
