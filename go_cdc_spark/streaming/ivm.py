"""Incremental view maintenance from the change stream: the maintained
hourly time-series grid, folded per micro-batch without ever re-scanning
the raw events.

The materializer (streaming/pipeline.py) maintains the *row* state;
``IncrementalGrid`` maintains a derived view — the (event_type, hour)
grid every ``ts_*`` query reads. Its measures (event count, non-null
value count, exact value sum) are distributive, so the change stream IS
the derivative:

    insert  → +data image
    delete  → −before image
    update  → +data image − before image

and each micro-batch folds into the state as a signed delta — cost
O(batch + touched cells), independent of the event volume. Because
addition commutes, the fold is order-independent ACROSS batches too: a
delete that arrives before its insert parks a negative cell in state
(hidden from reads) until the matching event lands. Only the exact
identity (every measure zero) is compacted away. The batch side of the
same algebra is ``operators/timeseries.incremental_grid``; both densify
through ``operators/timeseries.densify_grid``.

Delivery contract: deltas are NOT idempotent under redelivery (applying
an insert twice adds twice), and ``foreachBatch`` REPLAYS a batch after
a crash between the state write and the checkpoint commit. The state
swap therefore stamps the applied batch id atomically with the state
(storeio's ``_applied_batch.json``, written before the rename), scoped
to the run's checkpoint; ``process_batch`` skips any batch id at or
below the stamp — exactly-once per batch for deterministic sources like
the file-replay changelog. Update/delete events must carry full
before-images (MySQL ``binlog_row_image=FULL``, the reference's
assumption — `internal/cannal/incremental.go` row events).

Sums accumulate in DECIMAL(18,6) (exact, order-independent — the
repo-wide float policy), cast to double only at read.
"""

from __future__ import annotations

import os
import uuid as uuidlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import storeio
from ..operators.timeseries import densify_grid
from ..sources.changelog import OP_DELETE, OP_INSERT, OP_UPDATE, decode_image_value

_DEC = "decimal(18,6)"


class IncrementalGrid:
    """Maintained dense hourly time-series grid from the change stream
    — the streaming form of ``operators/timeseries._dense_grid``.

    State is the SPARSE grid: (event_type, hour) → signed event count,
    signed non-null-value count, and the signed DECIMAL(18,6) value sum
    (the cell key is derived from the row, ``date_trunc('hour', ts)``,
    so retraction is an exact signed delta). ``read_table`` densifies at
    read with the same surface as ``_dense_grid``, so the whole
    downstream family (resample / decompose / forecast / ACF /
    changepoint) can run off a MAINTAINED grid. State is
    calendar-bounded (|types| × |hours|), not data-bounded."""

    _measures = {"n_events": "long", "n_vals": "long", "sum_val": _DEC}

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        type_col: str = "event_type",
        ts_col: str = "ts",
        value_col: str = "value",
    ):
        self.spark = spark
        self.state_path = state_path
        self.type_col = type_col
        self.ts_col = ts_col
        self.value_col = value_col
        # Replay-stamp identity until start() supplies the checkpoint
        # dir: direct process_batch callers still stamp with SOME run,
        # so a state dir seeded that way and later attached to a real
        # checkpoint does not silently honor the seeding stamp.
        self._run_id = f"local-{uuidlib.uuid4().hex[:12]}"
        storeio.recover(state_path)  # promote a torn swap's .old- state before first read

    def _state(self) -> DataFrame | None:
        if not os.path.exists(self.state_path):
            return None
        return self.spark.read.parquet(self.state_path)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Replay guard: a crash BETWEEN the foreachBatch write and the
        # checkpoint commit replays the batch on restart, and folding
        # it twice would add twice.
        applied = storeio.applied_batch(self.state_path, run_id=self._run_id)
        if applied is not None and batch_id <= applied:
            return  # crash-replay of an already-folded batch
        state = self._state()
        delta = self._delta(batch)
        merged = delta if state is None else state.unionByName(delta)
        identity = F.lit(True)
        for m in self._measures:
            identity = identity & (F.coalesce(F.col(m), F.lit(0)) == 0)
        combined = (
            merged.groupBy(self.type_col, "hour")
            .agg(*[F.sum(m).cast(t).alias(m) for m, t in self._measures.items()])
            .filter(~identity)
        )
        storeio.swap_in(combined, self.state_path, batch_id=batch_id, run_id=self._run_id)

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        img = F.col(image_col)
        typ = decode_image_value(img.getItem(self.type_col), T.StringType())
        ts = decode_image_value(img.getItem(self.ts_col), T.TimestampNTZType())
        val = decode_image_value(img.getItem(self.value_col), T.DoubleType())
        return batch.select(
            typ.alias(self.type_col),
            F.date_trunc("hour", ts).cast("timestamp_ntz").alias("hour"),
            val.cast(_DEC).alias("__v"),
            F.lit(sign).alias("__sign"),
        )

    def _delta(self, batch: DataFrame) -> DataFrame:
        plus = self._image(batch.filter(F.col("op").isin(OP_INSERT, OP_UPDATE)), "data", 1)
        minus = self._image(
            batch.filter(F.col("op").isin(OP_DELETE, OP_UPDATE)), "before", -1
        )
        sg = F.col("__sign")
        return plus.unionByName(minus).groupBy(self.type_col, "hour").agg(
            F.sum(sg).cast("long").alias("n_events"),
            # sum skips NULL __v rows on its own; n_vals tracks how many
            # non-null values the cell holds so the read can render the
            # all-gone cell's sum as NULL exactly like the batch grid
            F.sum(F.when(F.col("__v").isNotNull(), sg).otherwise(0))
            .cast("long")
            .alias("n_vals"),
            F.sum(sg * F.col("__v")).cast(_DEC).alias("sum_val"),
        )

    def start(self, changes_stream: DataFrame, checkpoint_dir: str, query_name: str = "ivm_grid"):
        """Drain ``changes_stream`` (availableNow) through ``process_batch``."""
        self._run_id = checkpoint_dir
        return (
            changes_stream.writeStream.queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.process_batch)
            .trigger(availableNow=True)
            .start()
        )

    def read_table(self) -> DataFrame:
        """The DENSE grid: (event_type, hour, n_events, hour_value) with
        zero-count gap cells and NULL hour_value there; bounds and the
        type universe come from the visible cells (n_events > 0)."""
        state = self._state()
        if state is None:
            raise FileNotFoundError(f"no IVM state at {self.state_path}")
        return densify_grid(state, self.type_col)
