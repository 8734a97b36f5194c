"""Snapshot capture layer: chunk predicates (A5), discovery (A1-A4),
per-table pipeline (A11), filtered bounded fan-out (A9/A10), no-PK
rejection, rollback events, checkpoint handoff."""

from __future__ import annotations

import itertools

import duckdb
import pytest
from pyspark.sql import functions as F

from go_cdc_spark.functions.rules import FilterRules
from go_cdc_spark.sources.changelog import (
    OP_CREATE_TABLE,
    OP_END,
    OP_INSERT,
    OP_ROLLBACK,
)
from go_cdc_spark.sources.meta import CheckpointStore
from go_cdc_spark.sources.snapshot import (
    NoPrimaryKeyError,
    ParquetSnapshotSource,
    chunk_predicates,
    snapshot_all,
    snapshot_table,
    tuple_gt,
)

SF = "/root/testdata/sf0.001"

PKS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _source(spark) -> ParquetSnapshotSource:
    return ParquetSnapshotSource(spark, SF, primary_keys=PKS)


# --------------------------------------------------------------------------
# chunk predicates: pure-SQL correctness checked through a real engine
# --------------------------------------------------------------------------


def _eval(pred: str, a: int, b: str) -> bool:
    return duckdb.sql(f"SELECT {pred} FROM (SELECT {a} AS x, '{b}' AS y)").fetchone()[0]


def test_tuple_gt_matches_python_tuple_order():
    domain = [(a, b) for a in (1, 2, 3) for b in ("a", "m", "z")]
    for bound in domain:
        pred = tuple_gt(["x", "y"], list(bound))
        for val in domain:
            assert _eval(pred, *val) == (val > bound), (val, bound, pred)


def test_chunk_predicates_partition_the_key_space():
    """Every key matches exactly one chunk predicate (no gap, no overlap)."""
    boundaries = [(2, "m"), (3, "a")]
    preds = chunk_predicates(["x", "y"], boundaries)
    assert len(preds) == len(boundaries) + 1
    domain = itertools.product((1, 2, 3, 4), ("a", "m", "z"))
    for val in domain:
        hits = [p for p in preds if _eval(p, *val)]
        assert len(hits) == 1, (val, hits)


def test_chunk_predicates_single_chunk_and_no_pk():
    assert chunk_predicates(["x"], []) == ["1 = 1"]
    with pytest.raises(NoPrimaryKeyError):
        chunk_predicates([], [(1,)])


def test_chunk_predicates_string_escaping():
    pred = tuple_gt(["y"], ["o'neil"])
    assert duckdb.sql(f"SELECT {pred} FROM (SELECT 'z' AS y)").fetchone()[0]


# --------------------------------------------------------------------------
# discovery + pipeline over the parquet-backed source
# --------------------------------------------------------------------------


def test_discovery(spark):
    src = _source(spark)
    assert src.list_schemas() == ["main"]
    tables = src.list_tables(["main"])["main"]
    assert "lineitem" in tables and "region" in tables
    assert src.get_table_primary_keys("main", "lineitem") == [
        "l_orderkey",
        "l_linenumber",
    ]
    ddl = src.get_table_ddl("main", "region")
    assert ddl.startswith("CREATE TABLE main.region (") and "r_regionkey" in ddl


def test_no_pk_rejected(spark):
    src = ParquetSnapshotSource(spark, SF, primary_keys={})
    with pytest.raises(NoPrimaryKeyError):
        src.get_table_primary_keys("main", "region")


def test_snapshot_table_envelope(spark, tmp_path):
    src = _source(spark)
    store = CheckpointStore(spark, str(tmp_path / "meta"))
    snap = snapshot_table(src, "ds1", "main", "region", checkpoint=store)
    assert snap.error is None
    rows = snap.events.orderBy("op").collect()
    ops = [r.op for r in rows]
    n_region = spark.read.parquet(f"{SF}/region.parquet").count()
    assert ops.count(OP_INSERT) == n_region
    assert ops.count(OP_CREATE_TABLE) == 1 and ops.count(OP_END) == 1
    ct = next(r for r in rows if r.op == OP_CREATE_TABLE)
    assert "r_name" in ct.data["ddl"]
    ins = next(r for r in rows if r.op == OP_INSERT)
    assert set(ins.data) == {"r_regionkey", "r_name"}
    # checkpoint recorded the snapshot position for the stream handoff
    assert store.get_pos("ds1", sc="main", tb="region") == snap.pos


def test_snapshot_table_rollback_on_error(spark):
    src = ParquetSnapshotSource(spark, SF, primary_keys={})  # every PK lookup fails
    snap = snapshot_table(src, "ds1", "main", "region")
    assert snap.error is not None
    [row] = snap.events.collect()
    assert row.op == OP_ROLLBACK and "primary key" in row.data["err"]


def test_snapshot_all_filtered(spark, tmp_path):
    src = _source(spark)
    store = CheckpointStore(spark, str(tmp_path / "meta"))
    rules = FilterRules.parse({"global": {"include_tables": ["region", "nation"]}})
    snaps = snapshot_all(src, "ds1", rules=rules, checkpoint=store, concurrency=4)
    assert sorted(s.table for s in snaps) == ["nation", "region"]
    assert all(s.error is None for s in snaps)
    meta = store.all()
    assert ("ds1", "main", "region") in meta and ("ds1", "main", "nation") in meta


def test_snapshot_all_prefix_wildcard(spark):
    src = _source(spark)
    # reference rule syntax: trailing underscore = prefix wildcard
    rules = FilterRules.parse({"global": {"include_tables": ["part_", "orders"]}})
    snaps = snapshot_all(src, "ds1", rules=rules, concurrency=4)
    assert sorted(s.table for s in snaps) == ["orders", "part"]


def test_sql_lit_temporal_and_binary_envelope(spark):
    import datetime

    from go_cdc_spark.sources.snapshot import _sql_lit, snapshot_events

    assert _sql_lit(datetime.date(2024, 3, 1)) == "'2024-03-01'"
    assert _sql_lit(datetime.datetime(2024, 3, 1, 12, 30)) == "'2024-03-01 12:30:00'"
    # DuckDB accepts the rendered comparison
    pred = tuple_gt(["d"], [datetime.date(2024, 3, 1)])
    assert duckdb.sql(
        f"SELECT {pred} FROM (SELECT DATE '2024-06-01' AS d)"
    ).fetchone()[0]

    # binary columns survive the stringly envelope via base64
    import base64

    df = spark.createDataFrame([(1, bytearray(b"\x00\xff\x10"))], ["id", "blob"])
    events = snapshot_events(df, "ds1", "main", "t", "DDL", "000000000001")
    ins = next(r for r in events.collect() if r.op == "insert")
    assert base64.b64decode(ins.data["blob"]) == b"\x00\xff\x10"


def test_binary_column_roundtrip_through_materialize(spark):
    """snapshot_events → materialize_changelog must return the ORIGINAL
    bytes: the envelope base64-encodes binary columns, so the typed
    materialization has to unbase64, not string→binary cast (which would
    yield the UTF-8 bytes of the base64 text)."""
    from go_cdc_spark.operators.cdc import materialize_changelog
    from go_cdc_spark.sources.changelog import DATA_OPS, decode_image_value
    from go_cdc_spark.sources.snapshot import snapshot_events

    payload = b"\x00\xff\x10ABC\x80"
    df = spark.createDataFrame([(1, bytearray(payload))], ["id", "blob"])
    events = snapshot_events(df, "ds1", "main", "t", "DDL", "000000000001")
    rows = events.filter(F.col("op").isin(list(DATA_OPS)))

    # direct image decode
    blob = F.col("data").getItem("blob")
    img = rows.select(
        decode_image_value(blob, df.schema["blob"].dataType).alias("blob")
    ).collect()
    assert bytes(img[0].blob) == payload

    # full merge path against an empty snapshot
    empty = spark.createDataFrame([], df.schema)
    out = materialize_changelog(rows, empty, keys=["id"]).collect()
    assert bytes(out[0].blob) == payload


def test_full_type_map_roundtrip_through_materialize(spark):
    """SURVEY §1.2's whole MySQL→Spark type map must survive the stringly
    envelope: snapshot_events stringifies every value, typed
    materialization must reconstruct EXACT originals — long, int,
    unicode/delimiter strings, decimal, double (incl. subnormal-ish
    magnitudes and negative zero semantics via cast), timestamp with
    micros, date, boolean, binary (non-UTF8), and NULLs of every type."""
    import datetime
    from decimal import Decimal

    from go_cdc_spark.operators.cdc import materialize_changelog
    from go_cdc_spark.sources.changelog import DATA_OPS
    from go_cdc_spark.sources.snapshot import snapshot_events
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("c_int", T.IntegerType()),
            T.StructField("c_str", T.StringType()),
            T.StructField("c_dec", T.DecimalType(12, 4)),
            T.StructField("c_dbl", T.DoubleType()),
            T.StructField("c_ts", T.TimestampNTZType()),
            T.StructField("c_date", T.DateType()),
            T.StructField("c_bool", T.BooleanType()),
            T.StructField("c_bin", T.BinaryType()),
        ]
    )
    rows = [
        (
            1,
            -2147483648,
            'uni"co,de\n|tab\t€',
            Decimal("12345678.9012"),
            1.5e-7,
            datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
            datetime.date(1999, 12, 31),
            True,
            bytearray(b"\x00\xff\x80ABC"),
        ),
        (2, None, None, None, None, None, None, None, None),
        (
            3,
            42,
            "",
            Decimal("-0.0001"),
            -1.7976931348623157e308,
            datetime.datetime(1970, 1, 1, 0, 0, 0, 1),
            datetime.date(2038, 1, 19),
            False,
            bytearray(b""),
        ),
    ]
    df = spark.createDataFrame(rows, schema)
    events = snapshot_events(df, "ds1", "main", "t", "DDL", "000000000001")
    changes = events.filter(F.col("op").isin(list(DATA_OPS)))
    empty = spark.createDataFrame([], schema)
    out = {
        r.id: r for r in materialize_changelog(changes, empty, keys=["id"]).collect()
    }
    src = {r.id: r for r in df.collect()}
    assert set(out) == set(src)
    for k in src:
        for f in schema.fieldNames():
            a, b = getattr(src[k], f), getattr(out[k], f)
            if isinstance(a, (bytes, bytearray)) or isinstance(b, (bytes, bytearray)):
                assert (a is None) == (b is None) and (
                    a is None or bytes(a) == bytes(b)
                ), (k, f, a, b)
            else:
                assert a == b, (k, f, a, b)


def test_snapshot_all_partial_failure_isolated(spark, tmp_path):
    """A10 fault isolation: one table failing mid-fan-out must not take
    down the others — the failing table returns a rollback-marked
    snapshot (reference: fullamount_service.go:122-127 dispatches a
    Rollback event), every other table completes, and the checkpoint
    store records positions ONLY for the successes."""

    class FlakyTable(ParquetSnapshotSource):
        def read_table(self, schema, table):
            if table == "nation":
                raise RuntimeError("injected read failure for nation")
            return super().read_table(schema, table)

    src = FlakyTable(
        spark, SF,
        primary_keys={"region": ["r_regionkey"], "nation": ["n_nationkey"],
                      "customer": ["c_custkey"]},
    )
    store = CheckpointStore(spark, str(tmp_path / "meta"))
    rules = FilterRules.parse(
        {"global": {"include_tables": ["region", "nation", "customer"]}}
    )
    snaps = snapshot_all(src, "ds1", rules=rules, checkpoint=store, concurrency=3)
    by_table = {s.table: s for s in snaps}
    assert sorted(by_table) == ["customer", "nation", "region"]
    assert by_table["nation"].error is not None
    [rb] = by_table["nation"].events.collect()
    assert rb.op == OP_ROLLBACK and "injected read failure" in rb.data["err"]
    for ok in ("region", "customer"):
        assert by_table[ok].error is None
        assert store.get_pos("ds1", sc="main", tb=ok) == by_table[ok].pos
    meta = store.all()
    assert ("ds1", "main", "nation") not in meta  # no checkpoint for the failure


def test_checkpoint_store_concurrent_upserts_lose_nothing(tmp_path):
    """ADVICE r10: in continuous mode every stream's foreachBatch thread
    upserts the same store; upsert is a read-modify-write ending in two
    renames, so unserialized writers can lose a sibling's watermark or
    crash mid-promote. The per-path lock must make N concurrent writers
    equivalent to some serial order: every key's LAST write survives and
    no promote raises. Driver-side pyarrow path — no SparkSession needed."""
    import threading

    store = CheckpointStore(None, str(tmp_path / "meta"))
    errors: list[BaseException] = []
    n_tables, n_rounds = 8, 6

    def writer(tb_idx: int):
        try:
            for r in range(n_rounds):
                store.upsert(
                    "ds1", last_pos=str(r).zfill(12),
                    sc="main", tb=f"t{tb_idx}", sync_type="incremental",
                )
        except BaseException as exc:  # noqa: BLE001 — assert below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_tables)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    final = store.all()
    # every table's row survived, each at ITS final position — a lost
    # update would leave a missing key or a stale pos
    for i in range(n_tables):
        row = final[("ds1", "main", f"t{i}")]
        assert row.last_pos == str(n_rounds - 1).zfill(12)
