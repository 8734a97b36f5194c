"""Dead-letter quarantine for the changelog stream: malformed or
invalid events are routed to a typed quarantine store with a reason
and the raw payload, instead of being silently dropped or killing the
pipeline.

Why this exists: the plain file/JSON source runs PERMISSIVE — a
corrupted segment line parses to an all-NULL row, every consumer's
``op.isin(...)`` filter discards it, and the event is LOST with no
trace. The reference does the opposite extreme: a bad binlog event
errors out of the sync loop and stalls replication
(`internal/cannal/incremental.go` — handler errors propagate to the
runner's restart policy). A 100 TB pipeline wants neither silent loss
nor a stall: quarantine the evidence, count it, keep going.

Replay contract: the quarantine writes one deterministic directory per
micro-batch (overwrite mode), so a crash-replayed batch rewrites the
identical quarantine content — idempotent without a stamp, because
the directory is named by the batch id alone. The CLEAN rows keep
flowing to the wrapped consumer, whose own replay guard (storeio
stamp or idempotent merge) is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.changelog import (
    CHANGE_EVENT_SCHEMA,
    DATA_OPS,
    OP_CREATE_TABLE,
    OP_DELETE,
    OP_END,
    OP_INSERT,
    OP_ROLLBACK,
    OP_UPDATE,
)

CORRUPT_COL = "_corrupt_record"

VALID_OPS = (*DATA_OPS, OP_CREATE_TABLE, OP_END, OP_ROLLBACK)


def dlq_schema() -> T.StructType:
    """Envelope schema plus the raw-line capture column (a fresh
    StructType — StructType.add mutates in place)."""
    return T.StructType(
        list(CHANGE_EVENT_SCHEMA.fields)
        + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_changelog_stream_dlq(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """``read_changelog_stream`` with malformed-line capture: a line
    that fails to parse lands as a row whose ``_corrupt_record`` holds
    the raw text (all envelope fields NULL), instead of an anonymous
    all-NULL row."""
    return (
        spark.readStream.schema(dlq_schema())
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def violation_reason() -> Column:
    """First matching envelope violation, NULL for a valid event.

    Ordered from least to most recoverable: raw parse failure, absent
    or unknown op, data events without a position (the apply rule
    ``pos > tableGTID`` cannot place them), and row images the op
    requires (``binlog_row_image=FULL``, the assumption every IVM/
    merge consumer already documents)."""
    op = F.col("op")
    is_data = op.isin(*DATA_OPS)
    return (
        F.when(F.col(CORRUPT_COL).isNotNull(), F.lit("malformed_json"))
        .when(op.isNull(), F.lit("missing_op"))
        .when(~op.isin(*VALID_OPS), F.lit("unknown_op"))
        .when(is_data & F.col("pos").isNull(), F.lit("missing_pos"))
        .when(
            op.isin(OP_INSERT, OP_UPDATE) & F.col("data").isNull(),
            F.lit("missing_data_image"),
        )
        .when(
            op.isin(OP_UPDATE, OP_DELETE) & F.col("before").isNull(),
            F.lit("missing_before_image"),
        )
    )


class DeadLetterQueue:
    """Per-batch splitter: quarantine violating rows, pass clean rows.

    Wrap any foreachBatch consumer::

        dlq = DeadLetterQueue(spark, "/stores/quarantine")
        stream = read_changelog_stream_dlq(spark, segments)
        q = stream.writeStream.foreachBatch(dlq.wrap(mat.process_batch))...

    ``read_table()`` serves the quarantine (reason, raw payload, the
    parsed fields that survived, batch id) for triage/repair-replay.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, f"b{batch_id:010d}")

    def split_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """Write this batch's violating rows to a deterministic
        per-batch directory (overwrite — a crash-replay rewrites the
        identical content) and return the clean rows with the capture
        column dropped, in the plain envelope schema every consumer
        already expects."""
        if CORRUPT_COL not in batch.columns:
            batch = batch.withColumn(CORRUPT_COL, F.lit(None).cast("string"))
        # pinned: the reason expression feeds the quarantine write AND
        # the clean-side filter; without the pin each side re-scans the
        # micro-batch source
        flagged = batch.withColumn(
            "reason", violation_reason()
        ).localCheckpoint(eager=False)
        bad = flagged.filter(F.col("reason").isNotNull()).select(
            "reason",
            # raw payload: the unparsed line when we have it, else the
            # parsed envelope re-serialized — always enough to replay
            F.coalesce(
                F.col(CORRUPT_COL),
                F.to_json(F.struct(*[f.name for f in CHANGE_EVENT_SCHEMA.fields])),
            ).alias("raw"),
            *[f.name for f in CHANGE_EVENT_SCHEMA.fields],
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        out = self._batch_dir(batch_id)
        if bad.isEmpty():
            # no violations: leave no directory behind (and remove a
            # stale one if a replay of this batch previously wrote one
            # from a run that since repaired its input)
            import shutil

            shutil.rmtree(out, ignore_errors=True)
        else:
            bad.write.mode("overwrite").parquet(out)
        return flagged.filter(F.col("reason").isNull()).drop(
            "reason", CORRUPT_COL
        )

    def wrap(self, process_batch):
        """foreachBatch adapter: quarantine first, then hand the clean
        rows to the wrapped consumer under the same batch id."""

        def _wrapped(batch: DataFrame, batch_id: int) -> None:
            process_batch(self.split_batch(batch, batch_id), batch_id)

        return _wrapped

    def read_table(self) -> DataFrame:
        """All quarantined events across batches (empty if none)."""
        dirs = (
            sorted(
                os.path.join(self.path, d)
                for d in os.listdir(self.path)
                if d.startswith("b")
            )
            if os.path.isdir(self.path)
            else []
        )
        if not dirs:
            schema = T.StructType(
                [
                    T.StructField("reason", T.StringType()),
                    T.StructField("raw", T.StringType()),
                ]
                + list(CHANGE_EVENT_SCHEMA.fields)
                + [T.StructField("batch_id", T.LongType())]
            )
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*dirs)
