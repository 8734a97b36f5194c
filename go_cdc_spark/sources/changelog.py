"""Unified change-event envelope (the engine's central record).

Mirrors the reference's ``model.Event`` (`internal/model/event.go:3-12`:
DataSource/Table/Op/Data/Before/Ts/Pos/Schema) with two deliberate
deltas, per SURVEY.md §1.1:

- ``data``/``before`` are ``MAP<STRING,STRING>`` at the transport layer
  (the reference's stringly row maps), cast to typed structs only at
  materialization;
- an update is ONE event row carrying both images — the reference's
  intended consecutive-rows pairing (`internal/cannal/handler.go:100-108`)
  is folded at ingestion, never two rows;
- ``txn_id`` groups events of one transaction (XID-commit flushing,
  `internal/cannal/handler.go:47-51`).

``pos`` is a per-source monotonic string (zero-padded so lexicographic
order == position order), giving streams a total order without GTID-set
algebra on the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

OP_INSERT = "insert"
OP_UPDATE = "update"
OP_DELETE = "delete"
# control ops (full-sync channel protocol, internal/cannal/fullamount_event.go:24-83)
OP_CREATE_TABLE = "create_table"
OP_END = "end"
OP_ROLLBACK = "rollback"

DATA_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("data_source", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("before", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("pos", T.StringType()),
        T.StructField("txn_id", T.StringType()),
    ]
)

POS_WIDTH = 12


def format_pos(n: int, source: str = "") -> str:
    """Zero-padded position; lexicographic order == numeric order."""
    body = str(n).zfill(POS_WIDTH)
    return f"{source}:{body}" if source else body


def changelog_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Build a change-event DataFrame from python dicts (test fixtures)."""
    def norm(r: dict) -> dict:
        out = {f.name: r.get(f.name) for f in CHANGE_EVENT_SCHEMA.fields}
        for img in ("data", "before"):
            if out[img] is not None:
                out[img] = {k: (None if v is None else str(v)) for k, v in out[img].items()}
        return out

    return spark.createDataFrame([norm(r) for r in rows], CHANGE_EVENT_SCHEMA)


def decode_image_value(col: F.Column, data_type: T.DataType) -> F.Column:
    """Stringly envelope value → typed column. Binary columns were
    base64-encoded by ``snapshot_events`` (a plain string→binary cast
    would yield the UTF-8 bytes of the base64 TEXT, silently corrupting
    the round trip), so they decode with ``unbase64``; everything else
    is a straight cast."""
    if isinstance(data_type, T.BinaryType):
        return F.unbase64(col)
    return col.cast(data_type)
