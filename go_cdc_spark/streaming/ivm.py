"""Incremental view maintenance: keep an aggregate table current from
the change stream without ever re-scanning the base table.

The materializer (streaming/pipeline.py) maintains the *row* state; a
100 TB deployment usually also serves aggregates (revenue per region,
events per user, …), and recomputing them per micro-batch costs a full
base-table scan each time. For distributive aggregates (SUM/COUNT, and
AVG = SUM/COUNT at read time) the change stream IS the derivative:

    insert  → +data image
    delete  → −before image
    update  → +data image − before image

so each micro-batch folds into the aggregate state as a signed delta —
cost O(batch + groups), independent of base-table size. Because
addition commutes, the fold is order-independent ACROSS batches too: a
delete that arrives before its insert parks the group at a negative
count in state (hidden from reads) until the matching event lands.
Only the exact identity (count 0, sum 0) is compacted away.

Delivery contract: deltas are NOT idempotent under redelivery (applying
an insert twice adds twice), and ``foreachBatch`` REPLAYS a batch after
a crash between the state write and the checkpoint commit. The state
swap therefore stamps the applied batch id atomically with the state
(``_applied_batch.json`` inside the state dir, written before the
rename); ``process_batch`` skips any batch id at or below the stamp —
exactly-once per batch for deterministic sources like the file-replay
changelog. Under an at-least-once source (duplicate EVENTS inside
fresh batches, which no batch-id stamp can see) put ``stream_dedup``
(pipeline.py) in front. Update/delete events must
carry full before-images (MySQL ``binlog_row_image=FULL``, the
reference's assumption — `internal/cannal/incremental.go` row events).

Sums accumulate in DECIMAL(38,6) (exact, order-independent — the
repo-wide float policy), cast to double only in ``read_table``.
"""

from __future__ import annotations

import os
import uuid as uuidlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import storeio
from ..sources.changelog import OP_DELETE, decode_image_value

OP_INSERT = "insert"
OP_UPDATE = "update"

_SUM_T = "decimal(38,6)"

def _instance_run_id() -> str:
    """Replay-stamp identity used before ``start()`` supplies the real
    checkpoint dir. Direct ``process_batch`` callers (tests, manual
    seeding) thus still stamp with SOME run identity — a state dir
    seeded that way and later attached to a real checkpoint does NOT
    silently honor the seeding stamp (its ids mean nothing under the
    new checkpoint's numbering). The flip side is documented in
    storeio: re-pointing folded state at a fresh checkpoint re-folds
    from batch 0, which is only safe if the source offset also starts
    past the already-folded data."""
    return f"local-{uuidlib.uuid4().hex[:12]}"


def _split_key_mutations(rows: DataFrame, key_cols: list[str], types: dict) -> DataFrame:
    """Normalize key-mutating updates: an update whose before-image key
    differs from its after-image key is routed as delete(old key) +
    insert(new key), both at the event's pos. Keyed consumers that
    collapse the batch PER KEY (join sides, top-k) would otherwise
    leave the old key's row live in state — the update's images land
    under the new key only. Signed-delta consumers (sum/count,
    histogram, distinct, min/max) don't need this: they fold the two
    images independently, each under its own key.

    The mutation test compares the RAW image representations (no
    decode): raw-equal implies decoded-equal, and a raw-unequal pair
    that decodes equal merely takes the split path — a delete+insert
    of the SAME key, which every consumer folds to the update's exact
    effect (conservative, never wrong). ``types`` stays in the
    signature for callers that pass it; only the images' own encoding
    is compared."""
    del types  # raw-representation compare; see docstring

    # pin the micro-batch once: the three branches below (and every
    # downstream reference) would otherwise each re-scan the streaming
    # source (file read + JSON parse per reference)
    rows = rows.localCheckpoint(eager=False)
    moved = F.lit(False)
    for c in key_cols:
        moved = moved | ~F.col("data").getItem(c).eqNullSafe(
            F.col("before").getItem(c)
        )
    is_move = (
        (F.col("op") == OP_UPDATE)
        & F.col("data").isNotNull()
        & F.col("before").isNotNull()
        & moved
    )
    movers = rows.filter(is_move)
    null_of = lambda col: F.lit(None).cast(rows.schema[col].dataType)  # noqa: E731
    dels = movers.withColumn("op", F.lit(OP_DELETE)).withColumn("data", null_of("data"))
    inss = movers.withColumn("op", F.lit(OP_INSERT)).withColumn(
        "before", null_of("before")
    )
    # lazily pinned: consumers reference the normalized batch several
    # times (ins/rem images, final-op window, sentinels), and without
    # the checkpoint each reference re-scans the micro-batch source
    # through all three union branches (measured 3.5× fold slowdown)
    return (
        rows.filter(~is_move)
        .unionByName(dels)
        .unionByName(inss)
        .localCheckpoint(eager=False)
    )


def _swap_state(
    df: DataFrame, state_path: str, batch_id: int | None, run_id: str | None = None
) -> None:
    """``batch_id=None`` (repair) carries the existing stamp forward —
    a post-repair replay must still be skipped. ``run_id`` (the
    checkpoint dir, set by start()) rides along so a state dir
    re-pointed at a FRESH checkpoint (ids restart at 0) ignores the
    old stamp instead of silently skipping real batches."""
    storeio.swap_in(
        df, state_path, batch_id=batch_id, keep_stamp=batch_id is None, run_id=run_id
    )


def _decoded(image_col: str, names: list[str], types: dict, default) -> list[Column]:
    """Typed columns read out of one MAP<STRING,STRING> row image;
    ``types`` maps a field to its Spark type, others take ``default``."""
    return [
        decode_image_value(F.col(image_col).getItem(c), types.get(c, default)).alias(c)
        for c in names
    ]


class _Fold:
    """What every IVM member shares: torn-swap recovery, the replay
    guard, the state read and the availableNow ``foreachBatch`` start.
    Subclasses implement ``_fold(batch, batch_id)``; ``process_batch``
    runs it unless the batch id is at or below the state's stamp."""

    _query_name = "ivm"

    def __init__(self, spark: SparkSession, state_path: str):
        self.spark = spark
        self.state_path = state_path
        self._run_id: str = _instance_run_id()  # start() swaps in the checkpoint dir
        storeio.recover(state_path)  # promote a torn swap's .old- state before first read

    def _state(self) -> DataFrame | None:
        if not os.path.exists(self.state_path):
            return None
        return self.spark.read.parquet(self.state_path)

    def _require_state(self) -> DataFrame:
        state = self._state()
        if state is None:
            raise FileNotFoundError(f"no IVM state at {self.state_path}")
        return state

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Replay guard. Deltas are NOT idempotent (folding a batch twice
        # adds twice), and a crash BETWEEN the foreachBatch write and the
        # checkpoint commit REPLAYS the batch on restart. The MERGE
        # materializer survives replay because latest-wins is
        # idempotent; the folds instead stamp the applied batch id
        # atomically with the state (storeio's replay-guarded swap) and
        # skip replays at or below the stamp.
        applied = storeio.applied_batch(self.state_path, run_id=self._run_id)
        if applied is not None and batch_id <= applied:
            return  # crash-replay of an already-folded batch
        self._fold(batch, batch_id)

    def _fold(self, batch: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def start(
        self,
        changes_stream: DataFrame,
        checkpoint_dir: str,
        query_name: str | None = None,
    ):
        """Drain ``changes_stream`` (availableNow) through
        ``process_batch``; ``query_name`` defaults to the class's own."""
        self._run_id = checkpoint_dir
        return (
            changes_stream.writeStream.queryName(query_name or self._query_name)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.process_batch)
            .trigger(availableNow=True)
            .start()
        )


class _SignedFold(_Fold):
    """The fully-foldable members' shared fold (Aggregate, Stats,
    Distinct, Histogram/Mode, Grid) — the streaming side of the
    signed-delta algebra whose batch side is ``operators/cdc.py``'s
    ``_fold_sums`` / ``_fold_counts``. Each event contributes
    ``+data`` (insert, update) and ``−before`` (delete, update) images
    (``_image``); ``_delta`` aggregates them per cell. The fold unions
    state and delta, groups by the cell columns and sums every measure
    at its type. Because addition commutes the fold is order-
    independent ACROSS batches too: a delete that arrives before its
    insert parks a negative cell in state (hidden from reads) until the
    insert lands — deltas only commute if nothing is discarded, so the
    one safe compaction is the exact identity (every measure zero, NULL
    counting as zero).

    Subclasses set ``_cells`` (the grouping columns) and ``_measures``
    (name → Spark type, in state-schema order) and implement
    ``_image`` and ``_delta_aggs``."""

    _cells: list[str]
    _measures: dict[str, str]

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        raise NotImplementedError

    def _delta_aggs(self) -> list[Column]:
        raise NotImplementedError

    def _delta(self, batch: DataFrame) -> DataFrame:
        plus = self._image(
            batch.filter(F.col("op").isin(OP_INSERT, OP_UPDATE)), "data", 1
        )
        minus = self._image(
            batch.filter(F.col("op").isin(OP_DELETE, OP_UPDATE)), "before", -1
        )
        return plus.unionByName(minus).groupBy(*self._cells).agg(*self._delta_aggs())

    def _fold(self, batch: DataFrame, batch_id: int) -> None:
        delta = self._delta(batch)
        state = self._state()
        merged = delta if state is None else state.unionByName(delta)
        identity = F.lit(True)
        for m in self._measures:
            identity = identity & (F.coalesce(F.col(m), F.lit(0)) == 0)
        combined = (
            merged.groupBy(*self._cells)
            .agg(*[F.sum(m).cast(t).alias(m) for m, t in self._measures.items()])
            .filter(~identity)
        )
        _swap_state(combined, self.state_path, batch_id, run_id=self._run_id)


class IncrementalAggregate(_SignedFold):
    """SUM/COUNT (and derived AVG) per group, maintained from the
    changelog envelope stream.

    ``group_cols``/``value_col`` name fields inside the row images;
    ``types`` maps each to its Spark type (group keys default STRING).
    """

    _measures = {"sum_val": _SUM_T, "n_rows": "long"}

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        state_path: str,
        types: dict | None = None,
    ):
        super().__init__(spark, state_path)
        self.group_cols = group_cols
        self.value_col = value_col
        self.types = types or {}
        self._cells = group_cols

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        val = F.col(image_col).getItem(self.value_col).cast(_SUM_T)
        return batch.select(
            *_decoded(image_col, self.group_cols, self.types, T.StringType()),
            val.alias("__v"),
            F.lit(sign).alias("__sign"),
        )

    def _delta_aggs(self) -> list[Column]:
        return [
            F.sum(F.col("__sign") * F.col("__v")).cast(_SUM_T).alias("sum_val"),
            F.sum("__sign").cast("long").alias("n_rows"),
        ]

    def read_table(self) -> DataFrame:
        """Current aggregate: group cols, row count, exact sum (as
        double) and the derived average."""
        # hide in-flight negatives
        state = self._require_state().filter(F.col("n_rows") > 0)
        return state.select(
            *self.group_cols,
            "n_rows",
            F.col("sum_val").cast("double").alias("sum_val"),
            (F.col("sum_val").cast("double") / F.col("n_rows")).alias("avg_val"),
        )


class IncrementalStats(_SignedFold):
    """Mean/variance/stddev per group from the change stream — the
    streaming side of ``operators/cdc.py::incremental_stats`` (both
    fold the same signed power sums). State is the per-group power sums
    (COUNT(*), COUNT(val), Σval, Σval²): every row's contribution is
    independent, so retraction is an exact signed delta. The sums
    accumulate in decimal (val and val² cast per element, then summed
    exactly), which is what makes long-lived retraction exact — a float
    accumulator would collect cancellation residue since
    ``(a + b) − b ≠ a`` in binary float.
    """

    _query_name = "ivm_stats"
    _measures = {
        "n_rows": "long", "n_vals": "long", "sum_val": _SUM_T, "sum_sq": _SUM_T
    }

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        state_path: str,
        types: dict | None = None,
    ):
        super().__init__(spark, state_path)
        self.group_cols = group_cols
        self.value_col = value_col
        self.types = types or {}
        self._cells = group_cols

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        val = decode_image_value(
            F.col(image_col).getItem(self.value_col),
            self.types.get(self.value_col, T.DoubleType()),
        )
        return batch.select(
            *_decoded(image_col, self.group_cols, self.types, T.StringType()),
            val.alias("__val"),
            F.lit(sign).alias("__sign"),
        )

    def _delta_aggs(self) -> list[Column]:
        v = F.col("__val")
        sg = F.col("__sign")
        return [
            F.sum(sg).cast("long").alias("n_rows"),
            F.sum(F.when(v.isNotNull(), sg).otherwise(0)).cast("long").alias("n_vals"),
            F.sum(sg * v.cast("decimal(18,6)")).cast(_SUM_T).alias("sum_val"),
            F.sum(sg * (v * v).cast("decimal(28,6)")).cast(_SUM_T).alias("sum_sq"),
        ]

    def read_table(self) -> DataFrame:
        """Current per-group statistics derived from the maintained
        power sums: row/value counts, exact-sum mean, sample variance
        and stddev (NULL until a group holds ≥ 2 values)."""
        # hide in-flight negatives
        state = self._require_state().filter(F.col("n_rows") > 0)
        n = F.col("n_vals")
        sv = F.col("sum_val").cast("double")
        sq = F.col("sum_sq").cast("double")
        var = F.when(n > 1, F.greatest((sq - (sv * sv) / n) / (n - 1), F.lit(0.0)))
        return state.select(
            *self.group_cols,
            "n_rows",
            "n_vals",
            F.when(n > 0, sv / n).alias("mean_val"),
            var.alias("var_val"),
            F.sqrt(var).alias("stddev_val"),
        )


class IncrementalMinMax(_Fold):
    """MIN/MAX per group from the change stream — with the honest
    treatment of their non-distributivity: a delete can only be folded
    in when it provably does NOT remove the current extreme (the
    removed value lies strictly INSIDE the (min, max) interval). A
    delete at an extreme marks the group ``dirty`` — the runner-up is
    unknowable from deltas alone — until :meth:`repair` recomputes it
    from the base table (scoped to dirty groups only). Inserts always
    fold (min/max ARE distributive over inserts).

    This is the textbook trade (exact deletable extremes need a heap
    per group); the dirty flag makes the staleness explicit instead of
    silently wrong, and ``read_table`` surfaces it.
    """

    _query_name = "ivm_minmax"

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        state_path: str,
        types: dict | None = None,
    ):
        super().__init__(spark, state_path)
        self.group_cols = group_cols
        self.value_col = value_col
        self.types = types or {}

    def _image(self, batch: DataFrame, image_col: str) -> DataFrame:
        cols = _decoded(
            image_col, [*self.group_cols, self.value_col], self.types, T.StringType()
        )
        return batch.select(*cols).withColumnRenamed(self.value_col, "__v")

    def _fold(self, batch: DataFrame, batch_id: int) -> None:
        ins = self._image(
            batch.filter(F.col("op").isin(OP_INSERT, OP_UPDATE)), "data"
        ).groupBy(*self.group_cols).agg(
            F.min("__v").alias("i_min"), F.max("__v").alias("i_max")
        )
        rem = self._image(
            batch.filter(F.col("op").isin(OP_DELETE, OP_UPDATE)), "before"
        ).groupBy(*self.group_cols).agg(
            F.min("__v").alias("r_min"), F.max("__v").alias("r_max")
        )
        state = self._state()
        if state is None:
            state = (
                ins.limit(0)
                .select(
                    *self.group_cols,
                    F.col("i_min").alias("min_val"),
                    F.col("i_max").alias("max_val"),
                    F.lit(False).alias("dirty"),
                )
            )
        merged = (
            state.join(ins, self.group_cols, "full_outer")
            .join(rem, self.group_cols, "full_outer")
        )
        new_min = F.least("min_val", "i_min")
        new_max = F.greatest("max_val", "i_max")
        # a removal dirties the group iff it could have taken an
        # extreme: r_min <= current min  OR  r_max >= current max
        # (evaluated against the PRE-batch extremes, conservatively
        # extended by this batch's inserts: removing a value this very
        # batch inserted at the extreme also dirties)
        removal_hits_extreme = F.col("r_min").isNotNull() & (
            F.col("min_val").isNull()  # unknown pre-state: conservative
            | (F.col("r_min") <= new_min)
            | (F.col("r_max") >= new_max)
        )
        combined = merged.select(
            *self.group_cols,
            new_min.alias("min_val"),
            new_max.alias("max_val"),
            (
                F.coalesce(F.col("dirty"), F.lit(False)) | removal_hits_extreme
            ).alias("dirty"),
        )
        _swap_state(combined, self.state_path, batch_id, run_id=self._run_id)

    def repair(self, base: DataFrame) -> int:
        """Recompute extremes for dirty groups from the base table
        (the scoped scan deltas cannot avoid) and clear their flags.
        Returns the number of repaired groups."""
        state = self._state()
        if state is None:
            return 0
        dirty = state.filter(F.col("dirty"))
        n = dirty.count()
        if n == 0:
            return 0
        fresh = (
            base.join(F.broadcast(dirty.select(*self.group_cols)), self.group_cols)
            .groupBy(*self.group_cols)
            .agg(
                F.min(self.value_col).alias("min_val"),
                F.max(self.value_col).alias("max_val"),
            )
            .withColumn("dirty", F.lit(False))
        )
        clean = state.filter(~F.col("dirty"))
        combined = clean.unionByName(fresh).localCheckpoint(eager=True)
        _swap_state(combined, self.state_path, batch_id=None, run_id=self._run_id)
        return n

    def read_table(self) -> DataFrame:
        return self._require_state().select(
            *self.group_cols, "min_val", "max_val", "dirty"
        )


class IncrementalDistinct(_SignedFold):
    """COUNT(DISTINCT value) + COUNT(*) per group from the change
    stream — the duplicate-SENSITIVE aggregate, maintained exactly with
    the classical **support count** state: one row per ``(group, value)``
    pair holding how many live base rows carry that pair. The distinct
    count is then derivable (pairs with positive support), and a
    retraction decrements support instead of guessing whether the value
    still exists elsewhere.

    The fold is the shared signed fold with the (group, value) pair as
    the cell, so a delete arriving before its insert parks the pair at
    negative support (hidden from reads) until the insert lands. NULL
    values follow SQL semantics — invisible to COUNT(DISTINCT), counted
    by COUNT(*) — by keeping NULL-valued pairs in the support table
    (groupBy treats NULL as its own key) but excluding them from the
    distinct derivation.

    State size is O(distinct (group, value) pairs), NOT O(base rows) —
    the irreducible cost of exact distinct maintenance (the approximate
    alternative is an HLL sketch, which cannot retract). Per-batch cost
    is O(batch + touched pairs). The batch operator
    ``operators/cdc.py::incremental_distinct`` covers the minimal-image
    case (support looked up from the base by semi-join).
    """

    _query_name = "ivm_distinct"
    _measures = {"n_sup": "long"}

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        state_path: str,
        types: dict | None = None,
    ):
        super().__init__(spark, state_path)
        self.group_cols = group_cols
        self.value_col = value_col
        self.types = types or {}
        self._cells = [*group_cols, "__v"]

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        val = decode_image_value(
            F.col(image_col).getItem(self.value_col),
            self.types.get(self.value_col, T.StringType()),
        )
        return batch.select(
            *_decoded(image_col, self.group_cols, self.types, T.StringType()),
            val.alias("__v"),
            F.lit(sign).alias("__sign"),
        )

    def _delta_aggs(self) -> list[Column]:
        return [F.sum("__sign").cast("long").alias("n_sup")]

    def read_table(self) -> DataFrame:
        """Current per-group distinct + row counts; groups whose running
        row count is not yet positive (in-flight reordering) are hidden."""
        derived = self._require_state().groupBy(*self.group_cols).agg(
            F.sum(
                ((F.col("n_sup") > 0) & F.col("__v").isNotNull()).cast("long")
            ).alias("n_distinct"),
            F.sum("n_sup").cast("long").alias("n_rows"),
        )
        return derived.filter(F.col("n_rows") > 0)


class IncrementalJoin(_Fold):
    """The FK join view ``fact ⋈ dim`` maintained from a changelog
    stream carrying BOTH tables' events — each micro-batch runs the
    batch operator ``operators/cdc.py::incremental_join`` (the textbook
    bilinear rule ``Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB`` specialized to keyed
    MERGE streams) against three persistent
    relations: the two sides' latest-wins states (typed columns + pos +
    op, delete tombstones kept — the flat materializer's layout, so
    late events lose latest-wins) and the maintained view itself.

    Per-batch cost: O(batch + touched keys + dim fan-out), never a
    re-join of the bases — survivors come from the stored view via two
    anti-joins. The three relations swap in ONE rename
    (``storeio.swap_in_many``) with the batch-id stamp, so a crash can
    neither tear the state set nor double-fold a replay (the delta fold
    is not idempotent for the view's fan-out paths); replays at or
    below the stamp are skipped.

    Events route by the envelope's ``table`` field; update/delete
    events must carry full before-images (the reference's
    ``binlog_row_image=FULL`` assumption, like every IVM consumer
    here). An update that MUTATES a primary key is normalized to
    delete(old key) + insert(new key) before folding
    (``_split_key_mutations``) — the data-over-before key coalesce
    would otherwise leave the old key's row live in side state and in
    the view.
    """

    _query_name = "ivm_join"

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        fact_table: str,
        fact_fields: dict,
        fact_keys: list[str],
        dim_table: str,
        dim_fields: dict,
        dim_keys: list[str],
        fk: list[str] | None = None,
        assume_immutable_keys: bool = False,
    ):
        super().__init__(spark, state_path)
        self.fact_table = fact_table
        self.fact_fields = dict(fact_fields)
        self.fact_keys = fact_keys
        self.dim_table = dim_table
        self.dim_fields = dict(dim_fields)
        self.dim_keys = dim_keys
        self.fk = fk or dim_keys
        # the PK-mutation split costs ~20% fold throughput on streams
        # that never mutate keys (measured, COVERAGE.md round 7); a
        # source with enforced-immutable PKs may opt out — an update
        # whose key DOES mutate then corrupts state (old key stays live)
        self.assume_immutable_keys = assume_immutable_keys

    # -- state ----------------------------------------------------------

    def _side_schema(self, fields: dict):
        return T.StructType(
            [T.StructField(n, t) for n, t in fields.items()]
            + [T.StructField("pos", T.StringType()), T.StructField("op", T.StringType())]
        )

    def _side(self, name: str, fields: dict) -> DataFrame:
        p = os.path.join(self.state_path, name)
        if os.path.exists(p):
            return self.spark.read.parquet(p)
        return self.spark.createDataFrame([], self._side_schema(fields))

    def _view_cols(self) -> list[str]:
        return list(self.fact_fields) + [
            c for c in self.dim_fields if c not in self.dim_keys
        ]

    def _view(self) -> DataFrame | None:
        p = os.path.join(self.state_path, "view")
        if os.path.exists(p):
            return self.spark.read.parquet(p)
        return None

    def read_table(self) -> DataFrame:
        """The maintained join view."""
        v = self._view()
        if v is None:
            raise FileNotFoundError(f"no join-view state at {self.state_path}")
        return v

    # -- merge -----------------------------------------------------------

    def _decode(self, batch: DataFrame, fields: dict, keys: list[str]) -> DataFrame:
        cols = []
        for name, typ in fields.items():
            col = F.col("data").getItem(name)
            if name in keys:
                # delete events carry the key in the before-image only
                col = F.coalesce(col, F.col("before").getItem(name))
            cols.append(decode_image_value(col, typ).alias(name))
        return batch.select(*cols, F.col("pos").alias("pos"), F.col("op").alias("op"))

    def _fold_prelude(self, batch: DataFrame):
        """Shared per-batch front half (also used by IncrementalJoinAgg):
        decode + PK-mutation split + per-side latest-wins effective
        sets. Returns (eff_f, new_f_state, eff_d, new_d_state,
        fact_live, dim_live) where *_live are the PRE-change sides."""
        from ..operators.cdc import cdc_collapse

        rows = batch.filter(F.col("op").isin(OP_INSERT, OP_UPDATE, OP_DELETE))

        # PK mutation is routed as delete(old)+insert(new) per side; the
        # per-key collapse below would otherwise leave the old key live
        def norm(side_rows: DataFrame, keys: list[str], fields: dict) -> DataFrame:
            if self.assume_immutable_keys:
                return side_rows
            return _split_key_mutations(side_rows, keys, fields)

        f_ev = self._decode(
            norm(
                rows.filter(F.col("table") == self.fact_table),
                self.fact_keys,
                self.fact_fields,
            ),
            self.fact_fields,
            self.fact_keys,
        )
        d_ev = self._decode(
            norm(
                rows.filter(F.col("table") == self.dim_table),
                self.dim_keys,
                self.dim_fields,
            ),
            self.dim_fields,
            self.dim_keys,
        )
        f_state = self._side("fact", self.fact_fields)
        d_state = self._side("dim", self.dim_fields)

        def effective(state, ev, keys):
            """Per touched key: the latest-wins winner among the prior
            state row and this batch's events — so a LATE event (pos
            below the stored row's) folds as a no-op change instead of
            regressing the view."""
            touched = ev.select(*keys).distinct()
            prior = state.join(touched, on=keys, how="left_semi")
            # lazily pinned: eff feeds BOTH the new side state and the
            # view delta (three swap_in_many writes would otherwise
            # re-run the collapse window and the batch decode per write)
            eff = cdc_collapse(
                prior.unionByName(ev), keys, keep_deletes=True
            ).localCheckpoint(eager=False)
            new_state = state.join(touched, on=keys, how="left_anti").unionByName(eff)
            return eff, new_state

        eff_f, new_f_state = effective(f_state, f_ev, self.fact_keys)
        eff_d, new_d_state = effective(d_state, d_ev, self.dim_keys)

        fact_live = f_state.filter(F.col("op") != OP_DELETE).select(
            *self.fact_fields
        )
        dim_live = d_state.filter(F.col("op") != OP_DELETE).select(*self.dim_fields)
        return eff_f, new_f_state, eff_d, new_d_state, fact_live, dim_live

    def _fold(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.cdc import incremental_join

        (
            eff_f,
            new_f_state,
            eff_d,
            new_d_state,
            fact_live,
            dim_live,
        ) = self._fold_prelude(batch)
        view = self._view()
        if view is None:
            dim_r = dim_live
            for d, f_ in zip(self.dim_keys, self.fk):
                if d != f_:
                    dim_r = dim_r.withColumnRenamed(d, f_)
            view = fact_live.join(dim_r, on=self.fk).select(*self._view_cols())
        new_view = incremental_join(
            fact_live,
            eff_f,
            self.fact_keys,
            dim_live,
            eff_d,
            self.dim_keys,
            fk=self.fk,
            base_view=view,
        )
        storeio.swap_in_many(
            {"fact": new_f_state, "dim": new_d_state, "view": new_view},
            self.state_path,
            batch_id=batch_id,
            run_id=self._run_id,
        )


class IncrementalJoinAgg(IncrementalJoin):
    """``SELECT group_cols, COUNT(*), SUM(sum_cols…) FROM fact ⋈ dim
    GROUP BY group_cols`` maintained from the two-table changelog
    stream — each micro-batch runs the batch operator
    ``operators/cdc.py::incremental_join_agg`` (the 10th algebra).

    Same decode / PK-mutation split / per-side latest-wins prelude as
    :class:`IncrementalJoin` (shared via ``_fold_prelude``), but the
    maintained relation is the AGGREGATE, not the view: the bilinear
    rule's touched view rows fold into it as signed deltas, so state
    is aggregate-sized (|groups|) instead of view-sized (|facts|) and
    survivors are never rescanned or rewritten. Sums accumulate in
    exact decimal — delta maintenance bit-identical to recomputation.
    Group keys may come from either side; a dim rename migrates its
    whole group's mass (retract-under-old + assert-under-new). The
    three relations (fact, dim, agg) swap in ONE rename with the
    batch-id stamp — crash-replay skips, torn swaps recover."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        fact_table: str,
        fact_fields: dict,
        fact_keys: list[str],
        dim_table: str,
        dim_fields: dict,
        dim_keys: list[str],
        group_cols: list[str],
        sum_cols: list[str],
        fk: list[str] | None = None,
        assume_immutable_keys: bool = False,
    ):
        super().__init__(
            spark,
            state_path,
            fact_table,
            fact_fields,
            fact_keys,
            dim_table,
            dim_fields,
            dim_keys,
            fk=fk,
            assume_immutable_keys=assume_immutable_keys,
        )
        self.group_cols = group_cols
        self.sum_cols = sum_cols

    def _agg_state(self) -> DataFrame | None:
        p = os.path.join(self.state_path, "agg")
        if os.path.exists(p):
            return self.spark.read.parquet(p)
        return None

    def read_table(self) -> DataFrame:
        """The maintained aggregate: group_cols + [n, sum_<col>…]."""
        a = self._agg_state()
        if a is None:
            raise FileNotFoundError(f"no join-agg state at {self.state_path}")
        return a

    def _fold(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.cdc import incremental_join_agg

        (
            eff_f,
            new_f_state,
            eff_d,
            new_d_state,
            fact_live,
            dim_live,
        ) = self._fold_prelude(batch)
        # base_agg None only before the first fold: both sides empty,
        # so the base recompute is the empty aggregate — after that the
        # stored MV makes each batch O(changes + dim fan-out + groups).
        new_agg = incremental_join_agg(
            fact_live,
            eff_f,
            self.fact_keys,
            dim_live,
            eff_d,
            self.dim_keys,
            group_cols=self.group_cols,
            sum_cols=self.sum_cols,
            fk=self.fk,
            base_agg=self._agg_state(),
        )
        storeio.swap_in_many(
            {"fact": new_f_state, "dim": new_d_state, "agg": new_agg},
            self.state_path,
            batch_id=batch_id,
            run_id=self._run_id,
        )


class IncrementalTopK(_Fold):
    """Per-group top-k rows (rank by value DESC, ties by key) from the
    change stream — the full-image form of
    ``operators/cdc.py::incremental_topk``, with min/max's honest
    treatment of retraction generalized to rank k: state holds exactly
    the current top-k rows per group, inserts of NEW keys fold (union +
    re-rank + trim is exact for insertions), but any change touching a
    key PRESENT in a group's stored top-k — or a delete/update-before
    whose group is unknown to state — marks the group ``dirty``: the
    (k+1)-th row is unknowable from top-k state alone. :meth:`repair`
    rescans dirty groups from the base, scoped by semi-join.

    The micro-batch is collapsed per key first (retraction = the
    key's earliest before-image, candidate insert = its latest
    after-image unless the final op is a delete), so intra-batch
    insert+delete / insert+update sequences fold correctly. A change
    below the stored k-th value for a full group provably cannot enter
    the top-k; such inserts fold as no-ops. A dirty group with no
    stored rows (reordered events) keeps its flag via a NULL-key
    sentinel row. A key-mutating update is normalized to delete(old
    key) + insert(new key) before the collapse
    (``_split_key_mutations``) — the per-key windows partition by the
    coalesced NEW key, so the un-split form would leave the old key's
    final op a live insert. Crash-replay safe via the same storeio
    batch-id + run-id stamp as the other folds (the fold is not
    idempotent)."""

    _query_name = "ivm_topk"

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        key_cols: list[str],
        value_col: str,
        k: int,
        state_path: str,
        types: dict | None = None,
        assume_immutable_keys: bool = False,
    ):
        super().__init__(spark, state_path)
        self.group_cols = group_cols
        self.key_cols = key_cols
        self.value_col = value_col
        self.k = k
        self.types = types or {}
        # see IncrementalJoin: opting out reclaims ~20% fold throughput
        # but corrupts state if a PK ever mutates
        self.assume_immutable_keys = assume_immutable_keys

    def _image(self, batch: DataFrame, image_col: str) -> DataFrame:
        cols = _decoded(
            image_col,
            [*self.group_cols, *self.key_cols, self.value_col],
            self.types,
            T.StringType(),
        )
        return batch.select(*cols, "pos").withColumnRenamed(self.value_col, "__v")

    def _order(self):
        return Window.partitionBy(*self.group_cols).orderBy(
            F.desc_nulls_last("__v"), *[F.asc(c) for c in self.key_cols]
        )

    def _rank(self, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(self._order()))
            .filter(F.col("__rn") <= self.k)
            .drop("__rn")
        )

    def _sentinel_pred(self) -> Column:
        """A sentinel row carries a dirty flag for a group with no
        stored top-k rows (all key columns NULL, NULL value)."""
        p = F.col("__v").isNull()
        for c in self.key_cols:
            p = p & F.col(c).isNull()
        return p

    def _fold(self, batch: DataFrame, batch_id: int) -> None:
        rows = batch.filter(F.col("op").isin(OP_INSERT, OP_UPDATE, OP_DELETE))
        # PK mutation is routed as delete(old)+insert(new): the per-key
        # windows below partition by coalesce(data, before) — the NEW
        # key — so an un-split migrating update would leave the old
        # key's final op as a live insert
        if not self.assume_immutable_keys:
            rows = _split_key_mutations(rows, self.key_cols, self.types)

        # Per-key collapse of the micro-batch: several events may hit
        # one key (insert+delete, insert+update, …). The retraction
        # against PRE-batch state is the key's EARLIEST before-image;
        # the candidate insert is the key's LATEST after-image, and only
        # if the key's final op is not delete. (Intermediate intra-batch
        # images never touch state.)
        w_last = Window.partitionBy(*self.key_cols).orderBy(F.desc("pos"))
        w_first = Window.partitionBy(*self.key_cols).orderBy(F.asc("pos"))
        key_from_either = [
            decode_image_value(
                F.coalesce(
                    F.col("data").getItem(c), F.col("before").getItem(c)
                ),
                self.types.get(c, T.StringType()),
            ).alias(c)
            for c in self.key_cols
        ]
        final_op = (
            rows.select(*key_from_either, "pos", "op")
            .withColumn("__rn", F.row_number().over(w_last))
            .filter(F.col("__rn") == 1)
            .select(*self.key_cols, F.col("op").alias("__final_op"))
        )
        ins = (
            self._image(rows.filter(F.col("op").isin(OP_INSERT, OP_UPDATE)), "data")
            .withColumn("__rn", F.row_number().over(w_last))
            .filter(F.col("__rn") == 1)
            .join(final_op, on=self.key_cols)
            .filter(F.col("__final_op") != OP_DELETE)
            .select(*self.group_cols, *self.key_cols, "__v")
        )
        rem = (
            self._image(rows.filter(F.col("op").isin(OP_DELETE, OP_UPDATE)), "before")
            .withColumn("__rn", F.row_number().over(w_first))
            .filter(F.col("__rn") == 1)
            .select(*self.group_cols, *self.key_cols, "__v")
        )
        state = self._state()
        if state is None:
            state = (
                ins.limit(0)
                .select(*self.group_cols, *self.key_cols, "__v")
                .withColumn("dirty", F.lit(False))
            )
        real_state = state.filter(~self._sentinel_pred())
        # a removal (or update-before) dirties its OLD group whenever
        # its key sits in that group's stored top-k — and conservatively
        # when the group is unknown to state (reordered events)
        skeys = real_state.select(*self.group_cols, *self.key_cols).withColumn(
            "__in_top", F.lit(True)
        )
        sgroups = state.select(*self.group_cols).distinct().withColumn(
            "__known", F.lit(True)
        )
        rem_flags = (
            rem.join(skeys, on=[*self.group_cols, *self.key_cols], how="left")
            .join(sgroups, on=self.group_cols, how="left")
            .withColumn(
                "__dirty",
                F.coalesce(F.col("__in_top"), F.lit(False))
                | F.col("__known").isNull(),
            )
        )
        dirty_groups = (
            rem_flags.filter(F.col("__dirty")).select(*self.group_cols).distinct()
        )
        # an INSERT of a key already stored replaces its row only via
        # the dirty path (its old value leaves the top-k) — mark those
        # groups dirty too, then fold the remaining pure inserts
        ins_flags = ins.join(
            skeys, on=[*self.group_cols, *self.key_cols], how="left"
        )
        dirty_groups = dirty_groups.unionByName(
            ins_flags.filter(F.col("__in_top").isNotNull()).select(*self.group_cols)
        ).distinct()
        fresh_ins = ins_flags.filter(F.col("__in_top").isNull()).select(
            *self.group_cols, *self.key_cols, "__v"
        )
        folded = self._rank(
            real_state.drop("dirty").unionByName(fresh_ins)
        ).localCheckpoint(eager=False)
        # all dirty groups this batch: new flags + carried-forward ones
        prev_dirty = state.filter(F.col("dirty")).select(*self.group_cols).distinct()
        all_dirty = (
            dirty_groups.unionByName(prev_dirty).distinct().localCheckpoint(
                eager=False
            )
        )
        combined = folded.join(
            all_dirty.withColumn("__d", F.lit(True)), on=self.group_cols, how="left"
        ).select(
            *self.group_cols,
            *self.key_cols,
            "__v",
            F.col("__d").isNotNull().alias("dirty"),
        )
        # a dirty group may have NO stored rows (e.g. a delete for a
        # group state never saw — the reordered-events case): persist
        # the flag as a sentinel row so repair() still finds it
        key_types = {f.name: f.dataType for f in state.schema.fields}
        sentinels = (
            all_dirty.join(
                folded.select(*self.group_cols).distinct(),
                on=self.group_cols,
                how="left_anti",
            )
            .select(
                *self.group_cols,
                *[
                    F.lit(None).cast(key_types[c]).alias(c)
                    for c in self.key_cols
                ],
                F.lit(None).cast(key_types["__v"]).alias("__v"),
                F.lit(True).alias("dirty"),
            )
        )
        _swap_state(
            combined.unionByName(sentinels),
            self.state_path,
            batch_id,
            run_id=self._run_id,
        )

    def repair(self, base: DataFrame) -> int:
        """Recompute top-k for dirty groups from the base table (scoped
        semi-join) and clear their flags. Returns repaired groups."""
        state = self._state()
        if state is None:
            return 0
        dirty = state.filter(F.col("dirty")).select(*self.group_cols).distinct()
        n = dirty.count()
        if n == 0:
            return 0
        fresh = self._rank(
            base.join(F.broadcast(dirty), on=self.group_cols, how="left_semi")
            .select(*self.group_cols, *self.key_cols,
                    F.col(self.value_col).alias("__v"))
        ).withColumn("dirty", F.lit(False))
        clean = state.join(dirty, on=self.group_cols, how="left_anti")
        combined = clean.unionByName(fresh).localCheckpoint(eager=True)
        _swap_state(combined, self.state_path, batch_id=None, run_id=self._run_id)
        return n

    def read_table(self) -> DataFrame:
        """Current per-group top-k (re-ranked); ``dirty`` surfaces
        staleness instead of hiding it. Sentinel rows (dirty groups
        with no stored rows) appear with NULL keys/value and NULL
        rank."""
        state = self._require_state()
        real = (
            state.filter(~self._sentinel_pred())
            .withColumn("rank", F.row_number().over(self._order()))
        )
        sentinels = state.filter(self._sentinel_pred()).withColumn(
            "rank", F.lit(None).cast("int")
        )
        return real.unionByName(sentinels).select(
            *self.group_cols,
            *self.key_cols,
            F.col("__v").alias(self.value_col),
            F.col("rank").cast("int").alias("rank"),
            "dirty",
        )


class IncrementalHistogram(_SignedFold):
    """Fixed-bin value histogram per group from the change stream —
    the fully-foldable IVM case (static bin edges make retraction an
    exact signed delta; contrast MinMax/TopK, which need dirty-repair).
    The shared signed fold keyed by (group, bin): negative in-flight
    cells park in state and are hidden from reads. ``read_table``
    answers bin-resolution p50/p90/p99 via the integer cumulative walk
    shared with the batch operator
    (``operators/cdc.py::histogram_percentiles``)."""

    _query_name = "ivm_hist"
    _measures = {"n": "long"}
    _value_type = T.DoubleType()

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        lo: float,
        hi: float,
        nbins: int,
        state_path: str,
        types: dict | None = None,
    ):
        super().__init__(spark, state_path)
        self.group_cols = group_cols
        self.value_col = value_col
        self.lo, self.hi, self.nbins = lo, hi, nbins
        self.types = types or {}
        self._cells = [*group_cols, "bin"]

    def _cell(self, val: Column) -> Column:
        from ..operators.cdc import _bin_expr

        return _bin_expr(val, self.lo, self.hi, self.nbins)

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        val = decode_image_value(
            F.col(image_col).getItem(self.value_col),
            self.types.get(self.value_col, self._value_type),
        )
        return (
            batch.select(
                *_decoded(image_col, self.group_cols, self.types, T.StringType()),
                val.alias("__val"),
            )
            .filter(F.col("__val").isNotNull())
            .select(
                *self.group_cols,
                self._cell(F.col("__val")).alias("bin"),
                F.lit(sign).alias("__sign"),
            )
        )

    def _delta_aggs(self) -> list[Column]:
        return [F.sum("__sign").cast("long").alias("n")]

    def histogram(self) -> DataFrame:
        return self._require_state().filter(F.col("n") > 0)

    def staleness(self) -> DataFrame:
        """Per-group ``has_negative``: true while a retraction that
        arrived before its matching insert parks a negative cell in
        state — the group's visible bin totals transiently overstate
        the merged count until the insert lands. The histogram's
        counterpart of IncrementalTopK's ``dirty`` column: readers get
        a signal, not a silently-wrong total."""
        return self._require_state().groupBy(*self.group_cols).agg(
            F.max(F.col("n") < 0).alias("has_negative")
        )

    def read_table(self) -> DataFrame:
        from ..operators.cdc import histogram_percentiles

        return histogram_percentiles(self.histogram(), self.group_cols).join(
            self.staleness(), on=self.group_cols, how="left"
        )


class IncrementalMode(IncrementalHistogram):
    """MODE maintenance from the change stream — the full-image form of
    ``operators/cdc.py::incremental_mode`` (the 9th IVM algebra; both
    run the histogram's count-cell fold). The cell key is the exact
    VALUE instead of a static bin: state is (group, value → signed
    count), retractions fold exactly, negative in-flight cells park in
    state (same ``staleness`` signal) — and ``read_table`` is the
    deterministic top-1 read (count DESC, value ASC) shared with the
    batch ``agg_mode`` / ``mode_read``.

    State stores the value under the inherited ``bin`` column so every
    fold / swap / replay-guard / staleness path is reused verbatim; the
    read aliases it back to ``mode_value``."""

    _value_type = T.StringType()

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        state_path: str,
        types: dict | None = None,
    ):
        super().__init__(
            spark,
            group_cols,
            value_col,
            lo=0.0,
            hi=1.0,
            nbins=1,  # unused: _cell keeps raw values
            state_path=state_path,
            types=types,
        )

    def _cell(self, val: Column) -> Column:
        return val

    def read_table(self) -> DataFrame:
        from ..operators.cdc import mode_read

        counts = self.histogram().withColumnRenamed("bin", self.value_col)
        return mode_read(counts, self.group_cols, self.value_col).join(
            self.staleness(), on=self.group_cols, how="left"
        )


class IncrementalGrid(_SignedFold):
    """Maintained dense hourly time-series grid from the change stream
    — the streaming form of ``operators/timeseries._dense_grid`` and
    the 10th IVM algebra (VERDICT r10 #5).

    State is the SPARSE grid: (event_type, hour) → signed event count,
    signed non-null-value count, and the signed DECIMAL(18,6) value sum
    — fully foldable like the histogram (the cell key is derived from
    the row, ``date_trunc('hour', ts)``, so retraction is an exact
    signed delta; no dirty-repair). ``read_table`` densifies at read:
    calendar bounds from the visible cells, ``sequence()`` explode ×
    distinct types, gaps as (0, NULL) — the same output surface as
    ``_dense_grid``, so the whole downstream family (resample /
    decompose / forecast / ACF / changepoint) can run off a MAINTAINED
    grid instead of rescanning raw events. That is the 100 TB shape:
    per batch the fold costs O(batch + touched cells); the raw event
    volume is never rescanned, and state is calendar-bounded
    (|types| × |hours|), not data-bounded."""

    _query_name = "ivm_grid"
    _measures = {"n_events": "long", "n_vals": "long", "sum_val": "decimal(18,6)"}

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        type_col: str = "event_type",
        ts_col: str = "ts",
        value_col: str = "value",
    ):
        super().__init__(spark, state_path)
        self.type_col = type_col
        self.ts_col = ts_col
        self.value_col = value_col
        self._cells = [type_col, "hour"]

    def _image(self, batch: DataFrame, image_col: str, sign: int) -> DataFrame:
        img = F.col(image_col)
        typ = decode_image_value(img.getItem(self.type_col), T.StringType())
        ts = decode_image_value(img.getItem(self.ts_col), T.TimestampNTZType())
        val = decode_image_value(img.getItem(self.value_col), T.DoubleType())
        return batch.select(
            typ.alias(self.type_col),
            F.date_trunc("hour", ts).cast("timestamp_ntz").alias("hour"),
            val.cast("decimal(18,6)").alias("__v"),
            F.lit(sign).alias("__sign"),
        )

    def _delta_aggs(self) -> list[Column]:
        sg = F.col("__sign")
        return [
            F.sum(sg).cast("long").alias("n_events"),
            # sum skips NULL __v rows on its own; n_vals tracks how many
            # non-null values the cell holds so the read can render the
            # all-gone cell's sum as NULL exactly like the batch grid
            F.sum(F.when(F.col("__v").isNotNull(), sg).otherwise(0))
            .cast("long")
            .alias("n_vals"),
            F.sum(sg * F.col("__v")).cast("decimal(18,6)").alias("sum_val"),
        ]

    def read_table(self) -> DataFrame:
        """The DENSE grid: (event_type, hour, n_events, hour_value) with
        zero-count gap cells and NULL hour_value there — byte-identical
        surface to ``operators/timeseries._dense_grid``. Bounds and the
        type universe come from the VISIBLE cells (n_events > 0), so a
        fully retracted edge hour shrinks the grid exactly like a batch
        recompute would."""
        vis = self._require_state().filter(F.col("n_events") > 0)
        bounds = vis.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        hours = bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
        )
        grid = vis.select(self.type_col).distinct().crossJoin(hours)
        agg = vis.select(
            self.type_col,
            "hour",
            "n_events",
            F.when(
                F.col("n_vals") > 0, F.col("sum_val").cast("double")
            ).alias("hour_value"),
        )
        return grid.join(F.broadcast(agg), [self.type_col, "hour"], "left").select(
            self.type_col,
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "hour_value",
        )
