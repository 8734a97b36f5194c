"""Incremental SCD2 (type-2 history) maintenance over the change
stream: every insert/update opens a version interval keyed by binlog
position, the key's next event closes it, deletes close without
opening. The streaming twin of the batch ``cdc_scd2`` operator
(operators/cdc.py) — same semantics, maintained micro-batch by
micro-batch instead of derived from the full log.

Parity: the reference materializes only current state
(internal/cannal/fullamount_service.go + incremental apply); SCD2 is
the standard history-preserving target mode layered on the identical
ordered-event contract (pos = binlog position, A17/A21).

Scale shape per batch: closed intervals are IMMUTABLE — they never
ride through the merge again (at 100 TB the history table partitions
by date(valid-from) and closed partitions are never rewritten; this
parquet-swap implementation rewrites the history on every batch —
StreamingMaterializer's append-only delta runs do not carry over, as a
batch event closes an interval that is already stored).
The interval recomputation windows over (open intervals ∪ batch
events) only, keyed by entity — one shuffle proportional to live
entities + batch size, never to history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .. import storeio
from ..sources.changelog import OP_DELETE
from .pipeline import OP_COL, POS_COL, ROW_OPS, StreamingMaterializer

VF_COL = "__valid_from_pos"
VT_COL = "__valid_to_pos"


class Scd2Materializer(StreamingMaterializer):
    """Maintains a versioned history table instead of current state.

    State layout: the target schema's fields + ``__valid_from_pos`` /
    ``__valid_to_pos`` (NULL = open interval). ``current()`` restores
    the exact read_table() contract of the current-state materializer
    — proven equal in tests/test_scd2_stream.py."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        # Re-init state in interval layout if the parent wrote the flat
        # current-state form (fresh start only; restarts see VF_COL).
        state = self.state()
        if VF_COL not in state.columns:
            init = (
                state.drop(OP_COL)
                .withColumnRenamed(POS_COL, VF_COL)
                .withColumn(VT_COL, F.lit(None).cast("string"))
            )
            self._swap_state(init)
        else:
            # restart over interval-layout state: the parent took the
            # stored columns as the schema authority, which here include
            # the interval bookkeeping — the target schema is the data
            # fields only
            from pyspark.sql import types as T

            self.schema = T.StructType(
                [f for f in self.schema.fields if f.name not in (VF_COL, VT_COL)]
            )

    # -- views -----------------------------------------------------------

    def history(self) -> DataFrame:
        """All versions with validity-position intervals."""
        return self.state()

    def current(self) -> DataFrame:
        """Open versions — identical contract to read_table()."""
        return self.state().filter(F.col(VT_COL).isNull()).drop(VF_COL, VT_COL)

    def asof(self, pos: str) -> DataFrame:
        """Versions live at position `pos` (interval containment)."""
        s = self.state()
        return s.filter(
            (F.col(VF_COL) <= pos) & (F.col(VT_COL).isNull() | (F.col(VT_COL) > pos))
        ).drop(VF_COL, VT_COL)

    # -- merge -----------------------------------------------------------

    def _swap_state(self, df: DataFrame, batch_id: int | None = None) -> None:
        storeio.swap_in(
            df,
            self.state_path,
            batch_id=batch_id,
            keep_stamp=batch_id is None,
            run_id=getattr(self, "_run_id", None),
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Interval derivation is NOT idempotent under foreachBatch's
        # crash-replay (a replayed event re-derives rows that already
        # exist as closed intervals, duplicating history) — unlike the
        # parent's latest-wins merge. Same replay guard as the IVM
        # folds: skip batches at or below the atomic state stamp.
        changes = batch
        if self.pos_threshold is not None:
            changes = changes.filter(F.col("pos") > F.lit(self.pos_threshold))
        ctl = self._control(changes)
        applied = storeio.applied_batch(
            self.state_path, run_id=getattr(self, "_run_id", None)
        )
        if applied is not None and batch_id <= applied:
            # A crash BETWEEN _swap_state (stamp written) and the meta
            # advance below leaves meta one batch behind the state; if
            # the replayed fold were skipped without catching meta up, a
            # later run deriving pos_threshold from meta would re-admit
            # those events and duplicate interval history. upsert is
            # idempotent (keyed, max-pos), so advancing it here is safe.
            self._advance_meta(ctl.top)
            return
        self._reject_poison(ctl.poison)
        rows = changes.filter(F.col("op").isin(*ROW_OPS))
        # within-batch redelivery guard
        typed = self._typed_changes(rows).dropDuplicates([*self.keys, POS_COL])
        state = self.state()
        fields = [f.name for f in self.schema.fields]
        # CROSS-batch redelivery guard (ADVICE r12 medium): drop incoming
        # events whose (key, pos) already opened an interval in state.
        # Query-based capture's `overlap` window re-emits already-seen
        # rows AT THEIR ORIGINAL pos on every poll; without this guard
        # each re-emit ties with the open interval's pseudo-event at the
        # same pos and the lead() window appends a degenerate zero-length
        # closed interval per re-emitted key per poll — unbounded history
        # growth and phantom rows in read_history. An event at a pos the
        # key already versioned at is BY CONTRACT the same event (pos is
        # the per-source total order), so dropping it is exact, not
        # heuristic. Scale: state is first semi-joined down to the
        # batch's keys (broadcast of catalog-rate batch keys — one
        # state scan, which this merge already pays), so the anti-join's
        # right side is |batch keys| × their version counts, not history.
        batch_keys = typed.select(*self.keys).distinct()
        seen = (
            state.join(F.broadcast(batch_keys), on=self.keys, how="left_semi")
            .select(*self.keys, F.col(VF_COL).alias(POS_COL))
        )
        typed = typed.join(
            F.broadcast(seen), on=[*self.keys, POS_COL], how="left_anti"
        )
        open_rows = state.filter(F.col(VT_COL).isNull())
        closed_rows = state.filter(F.col(VT_COL).isNotNull())
        # open intervals re-enter the window as pseudo-events at their
        # own open position, so a batch event for the key closes them
        pseudo = open_rows.select(
            *fields,
            F.col(VF_COL).alias(POS_COL),
            F.lit("insert").alias(OP_COL),
        )
        w = Window.partitionBy(*self.keys).orderBy(POS_COL)
        recomputed = (
            pseudo.unionByName(typed)
            .withColumn(VT_COL, F.lead(POS_COL).over(w))
            .filter(F.col(OP_COL) != OP_DELETE)
            .select(*fields, F.col(POS_COL).alias(VF_COL), VT_COL)
        )
        self._swap_state(closed_rows.unionByName(recomputed), batch_id=batch_id)
        self._advance_meta(ctl.top)
