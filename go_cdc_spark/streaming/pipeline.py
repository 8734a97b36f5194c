"""Incremental sync as Structured Streaming (SURVEY.md §2.A A18-A22).

The reference tails the MySQL binlog with a replication client
(`internal/cannal/incremental.go:69-178`) — reconnect/backoff, GTID
watermark, event demux, and (in the intended design,
`internal/cannal/handler.go:55-125`) txn buffering + row-event
conversion. In Spark, all the hard parts are the runtime's:

- **source**: ``readStream`` over a changelog directory (JSON lines per
  "binlog segment"; swap for ``format("kafka")`` + a Debezium topic in
  production — same downstream plan). ``maxFilesPerTrigger`` bounds a
  micro-batch like the reference's 1000-message channel.
- **restart/backoff** (A18): the streaming checkpoint replaces the
  hand-rolled reconnect loop — on restart, processed files are not
  re-read, so events never double-apply.
- **GTID watermark** (A21): per-source max(pos) per micro-batch,
  upserted into the CheckpointStore like the reference's meta rows.
- **materialization** (the consumer the reference never finished — its
  only sink logs to console): ``foreachBatch`` MERGE into a parquet
  state table that keeps per-row ``__pos`` (late or redelivered events
  lose latest-wins) and delete tombstones (so a late pre-delete image
  cannot resurrect a deleted row). The MERGE is merge-on-read: a batch
  appends only its collapsed delta as a run, reads apply latest-wins
  over base ∪ runs, and a compaction folds the runs into the base
  (Krypton, VLDB 2023) — upkeep follows the change, not the table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import storeio
from ..functions.ddl import UnsupportedDdl, evolve_schema, parse_alter
from ..operators.cdc import cdc_collapse
from ..sources.changelog import CHANGE_EVENT_SCHEMA, OP_DELETE
from ..sources.meta import CheckpointStore

POS_COL = "__pos"
OP_COL = "__op"
ROW_OPS = ("insert", "update", "delete")
# compaction trigger: a batch that would leave more than MAX_RUNS runs,
# or arrives when the runs hold as many bytes as the base, folds them
MAX_RUNS = 8


def _bytes(dirs: list[str]) -> int:
    return sum(
        e.stat().st_size for d in dirs for e in os.scandir(d) if e.is_file()
    )


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-replay changelog source (one JSON-lines file per binlog
    segment). ``maxFilesPerTrigger`` is the backpressure bound — the
    analog of the reference's bounded event channel
    (`internal/cannal/fullamount_service.go:27`)."""
    return (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


class StreamingMaterializer:
    """foreachBatch MERGE of a changelog stream into a queryable table.

    State layout: a base parquet dir at ``state_path`` plus delta runs,
    one dir each under the sibling ``state_path + ".runs/"`` (not under
    the base: parquet partition discovery rejects non-``k=v`` subdirs).
    Base and runs share one schema: the target table's typed columns +
    ``__pos`` (position of the image) + ``__op`` (last op; delete rows
    are retained as tombstones and filtered from the read view).
    :meth:`state` is latest-wins on max(__pos) per key over base ∪ runs.

    A batch writes ``cdc_collapse(delta)`` as a new run. It compacts
    instead — base ∪ runs ∪ delta collapsed into a new base, then the
    folded runs deleted — when it would leave more than ``MAX_RUNS``
    runs, when the runs already hold as many bytes as the base, or when
    it carries DDL (the stored rows change shape, so they are folded
    under one schema). A read thus scans the base plus at most
    ``MAX_RUNS`` runs, which hold under the base's bytes plus one
    batch's delta.

    Replay: a redelivered batch appends a duplicate run (run names are
    never reused) whose rows tie the originals on ``__pos`` with the
    same images, so latest-wins absorbs it — the sink is idempotent
    without a replay stamp. A crash between a compaction's base swap
    and its run deletion leaves runs the new base's manifest names;
    they are no longer read, and are swept by the next compaction or
    init (``storeio.recover``).
    """

    def __init__(
        self,
        spark: SparkSession,
        snapshot: DataFrame,
        keys: list[str],
        state_path: str,
        pos_threshold: str | None = None,
        meta: CheckpointStore | None = None,
        data_source_id: str = "ds1",
        table: str | None = None,
    ):
        self.spark = spark
        self.keys = keys
        self.state_path = state_path
        self.pos_threshold = pos_threshold
        self.schema = snapshot.schema
        self.meta = meta
        self.data_source_id = data_source_id
        self.table = table
        self._run_id: str | None = None  # set by start(); see applied_batch
        self._base_schema: T.StructType | None = None  # read lazily
        self._pending_renames: dict[str, tuple[str, object]] = {}
        # ADD COLUMN ... DEFAULT backfill: pending = this batch's state
        # rewrite, persisted defaults = decode fallback for late events
        # whose images predate the column (gate-released, replayed)
        self._pending_defaults: dict[str, object] = {}
        self._defaults: dict[str, object] = {}
        # rename history (new→old), persisted beside the state: decode
        # fallback must survive restarts because the txn gate can
        # release PRE-rename row events long after the rename batch
        self._alias_path = state_path + ".aliases.json"
        self._aliases: dict[str, str] = {}
        if os.path.exists(self._alias_path):
            with open(self._alias_path) as fh:
                stored = json.load(fh)
            if isinstance(stored, dict) and "aliases" in stored:
                self._aliases = stored["aliases"]
                self._defaults = stored.get("defaults", {})
            else:  # legacy flat alias map
                self._aliases = stored
        storeio.recover(state_path)
        if not os.path.exists(state_path):
            # the MERGE keeps one row per key, so a declared key that
            # is not unique in the snapshot would silently drop rows at
            # the first batch; checked once, on first init only
            dup = (
                snapshot.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .first()
            )
            if dup is not None:
                key = {k: dup[k] for k in keys}
                raise ValueError(
                    f"primary key {keys} is not unique in the snapshot of "
                    f"{table or state_path!r}: {key} appears {dup['__n']} times"
                )
            init = snapshot.withColumn(
                POS_COL, F.lit(pos_threshold or "").cast("string")
            ).withColumn(OP_COL, F.lit("insert"))
            init.write.mode("overwrite").parquet(state_path)
        else:
            # restart: the persisted base is the schema authority — it
            # carries any DDL evolution applied since the snapshot, which
            # the caller's snapshot frame predates; runs always share the
            # base's schema (DDL compacts), so only its footer is read
            self._base_schema = self.spark.read.parquet(state_path).schema
            self.schema = T.StructType(
                [f for f in self._base_schema if f.name not in (POS_COL, OP_COL)]
            )

    # -- state access ----------------------------------------------------

    def _stored(self, runs: list[str]) -> DataFrame:
        """Base ∪ ``runs``, not collapsed: one scan under the base's
        schema, which every run shares."""
        if not runs:
            return self.spark.read.parquet(self.state_path)
        if self._base_schema is None:
            self._base_schema = self.spark.read.parquet(self.state_path).schema
        return self.spark.read.schema(self._base_schema).parquet(
            self.state_path, *runs
        )

    def state(self) -> DataFrame:
        """The latest image per key, tombstones included: the base alone,
        or latest-wins over base ∪ live runs."""
        runs = storeio.runs(self.state_path)
        if not runs:
            return self._stored(runs)
        return cdc_collapse(
            self._stored(runs), self.keys, pos_col=POS_COL, op_col=OP_COL,
            keep_deletes=True,
        )

    def read_table(self) -> DataFrame:
        """The queryable current state (tombstones hidden)."""
        return self.state().filter(F.col(OP_COL) != OP_DELETE).drop(POS_COL, OP_COL)

    # -- merge -----------------------------------------------------------

    def _typed_changes(self, batch: DataFrame) -> DataFrame:
        from go_cdc_spark.sources.changelog import decode_image_value

        cols = []
        for f in self.schema.fields:
            col = F.col("data").getItem(f.name)
            for old in self._alias_chain(f.name):
                # events from before a rename (same batch, or released
                # later by the txn gate) carry an OLD column name
                col = F.coalesce(col, F.col("data").getItem(old))
            if f.name in self.keys:
                col = F.coalesce(col, F.col("before").getItem(f.name))
            decoded = decode_image_value(col, f.dataType)
            dflt = self._defaults.get(f.name)
            if dflt is not None and f.name not in self.keys:
                # an image that predates the column (no such map KEY —
                # distinct from an explicit NULL value) reads the ADD
                # DEFAULT, like a row the source never rewrote
                present = F.map_contains_key(F.col("data"), F.lit(f.name))
                for old in self._alias_chain(f.name):
                    present = present | F.map_contains_key(
                        F.col("data"), F.lit(old)
                    )
                decoded = F.when(
                    F.coalesce(present, F.lit(False)), decoded
                ).otherwise(F.lit(dflt).cast(f.dataType))
            cols.append(decoded.alias(f.name))
        return batch.select(
            *cols, F.col("pos").alias(POS_COL), F.col("op").alias(OP_COL)
        )

    def _apply_ddl(self, changes: DataFrame) -> None:
        """Evolve the target schema from this batch's DDL events (A19's
        downstream half). DDL is catalog-rate — collecting it is O(few
        statements), never row data. Binlog order (pos) is preserved;
        dropping a merge key is refused, and redelivered statements are
        no-ops (evolve_schema is idempotent)."""
        ddl = (
            changes.filter(F.col("op") == "ddl")
            .select("pos", F.col("data").getItem("query").alias("q"))
            .collect()
        )
        for r in sorted(ddl, key=lambda r: r.pos):
            if not r.q:
                continue
            parsed = parse_alter(r.q)
            if parsed is not None and (self.table is None or parsed[0] == self.table):
                for act in parsed[1]:
                    same = act[0] == "rename" and act[1] == act[2]
                    if (
                        act[0] == "rename"
                        and act[1] in self.keys
                        and not same  # CHANGE id id BIGINT = retype, fine
                    ):
                        raise UnsupportedDdl(
                            f"DDL renames merge key {act[1]!r}"
                        )
                    if act[0] == "rename" and not same:
                        # old→(new, declared type): the state alignment
                        # carries the column's DATA across the rename
                        # (consumed by _aligned_state, cleared after the
                        # merge write persists the new name) ...
                        self._pending_renames[act[1]] = (act[2], act[3])
                        # ... and the decode fallback (new→old) persists
                        # forever: gated/late row events may still carry
                        # the old name in their images
                        self._aliases[act[2]] = act[1]
                        self._save_aliases()
                    if act[0] == "add" and len(act) > 3 and act[3] is not None:
                        # DEFAULT literal: backfill existing state rows
                        # this batch, and keep the value as a decode
                        # fallback for images that predate the column
                        self._pending_defaults[act[1]] = act[3]
                        self._defaults[act[1]] = act[3]
                        self._save_aliases()
                    if act[0] == "drop":
                        if self._defaults.pop(act[1], None) is not None:
                            self._save_aliases()
                    if act[0] == "add" and (
                        act[1] in self._aliases
                        or act[1] in self._aliases.values()
                    ):
                        # re-adding a previously-renamed-away name: the
                        # name now denotes a NEW column — stop falling
                        # back to it (pre-rename rows already released
                        # lose nothing; unreleased ones lose the old
                        # value, the unresolvable corner of rename+readd
                        # inside one gate window)
                        self._aliases = {
                            n: o
                            for n, o in self._aliases.items()
                            if o != act[1] and n != act[1]
                        }
                        self._save_aliases()
            new = evolve_schema(self.schema, r.q, table=self.table)
            if new is not self.schema:
                lost = set(self.keys) - {f.name for f in new.fields}
                if lost:
                    raise UnsupportedDdl(f"DDL drops merge key(s) {sorted(lost)}")
                self.schema = new

    def _save_aliases(self) -> None:
        with open(self._alias_path, "w") as fh:
            json.dump({"aliases": self._aliases, "defaults": self._defaults}, fh)

    def _alias_chain(self, name: str) -> list[str]:
        """Historical names for ``name``, oldest last (follows chained
        renames a→b→c)."""
        chain, cur, seen = [], name, set()
        while cur in self._aliases and cur not in seen:
            seen.add(cur)
            cur = self._aliases[cur]
            chain.append(cur)
        return chain

    def _aligned_state(self, runs: list[str]) -> DataFrame:
        """Stored rows (base ∪ ``runs``) projected to the (possibly
        evolved) schema: added columns surface as typed NULLs on pre-DDL
        rows, dropped columns vanish. Pure projection — no rewrite until
        the compaction write that follows anyway."""
        state = self._stored(runs)
        have = set(state.columns)
        new_from_old = {
            new: old for old, (new, _t) in self._pending_renames.items()
        }

        def col_for(f):
            if f.name in have:
                return F.col(f.name).cast(f.dataType)  # CHANGE retype
            # Renamed this batch: carry the old column's data. Chained
            # renames landing in ONE batch (a→b then b→c) leave only
            # the oldest name in the stored state, so follow the
            # pending map transitively until a stored column appears.
            old, seen = new_from_old.get(f.name), set()
            while old is not None and old not in have and old not in seen:
                seen.add(old)
                old = new_from_old.get(old)
            if old is not None and old in have:
                return F.col(old).cast(f.dataType).alias(f.name)
            if f.name in self._pending_defaults:
                # ADD COLUMN ... DEFAULT v: MySQL surfaces v on existing
                # rows; mirror that one-time backfill here
                return (
                    F.lit(self._pending_defaults[f.name])
                    .cast(f.dataType)
                    .alias(f.name)
                )
            return F.lit(None).cast(f.dataType).alias(f.name)

        return state.select(
            *[col_for(f) for f in self.schema.fields], POS_COL, OP_COL
        )

    def _poison(self):
        """True on a row event carrying ANY value that does not decode
        to its column type (detected via try_cast). Under ANSI mode
        (Spark 4 default) one such row would abort the micro-batch
        anyway, and for a merge key there is no sane fallback at all;
        failing the batch names the table instead — fail-stop beats
        silent loss."""
        poison = F.lit(False)
        for f in self.schema.fields:
            if isinstance(f.dataType, T.BinaryType):
                continue  # unbase64 never throws; bad base64 yields NULL
            raw = F.col("data").getItem(f.name)
            for old in self._alias_chain(f.name):
                raw = F.coalesce(raw, F.col("data").getItem(old))
            if f.name in self.keys:
                raw = F.coalesce(raw, F.col("before").getItem(f.name))
            poison = poison | (raw.isNotNull() & raw.try_cast(f.dataType).isNull())
        return F.col("op").isin(*ROW_OPS) & poison

    def _reject_poison(self, n: int) -> None:
        if n:
            raise ValueError(
                f"poison change rows for table {self.table or self.state_path!r}: "
                "a value does not decode to its column type"
            )

    def _control(self, changes: DataFrame):
        """The batch's control figures in ONE aggregate: DDL events, row
        events, poison rows (under the current schema) and max(pos)."""
        return changes.agg(
            F.count(F.when(F.col("op") == "ddl", 1)).alias("ddl"),
            F.count(F.when(F.col("op").isin(*ROW_OPS), 1)).alias("rows"),
            F.count(F.when(self._poison(), 1)).alias("poison"),
            F.max("pos").alias("top"),
        ).first()

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        changes = batch
        if self.pos_threshold is not None:
            changes = changes.filter(F.col("pos") > F.lit(self.pos_threshold))
        ctl = self._control(changes)
        poison = ctl.poison
        if ctl.ddl:
            self._apply_ddl(changes)
            # a retyped or added column changes what decodes
            poison = changes.filter(self._poison()).limit(1).count()
        self._reject_poison(poison)
        typed = self._typed_changes(changes.filter(F.col("op").isin(*ROW_OPS)))
        if ctl.ddl or self._pending_renames or self._pending_defaults:
            # the stored rows change shape: fold them under one schema
            self._compact(typed)
        elif ctl.rows:
            runs = storeio.runs(self.state_path)
            if len(runs) >= MAX_RUNS or _bytes(runs) >= _bytes([self.state_path]):
                self._compact(typed)
            else:
                storeio.append_run(
                    cdc_collapse(
                        typed, self.keys, pos_col=POS_COL, op_col=OP_COL,
                        keep_deletes=True,  # tombstones persist in state
                    ),
                    self.state_path,
                )
        self._advance_meta(ctl.top)

    def _compact(self, typed: DataFrame) -> None:
        """Fold base ∪ live runs ∪ this batch's delta into a new base,
        then delete the folded runs. A crash between the swap and the
        delete leaves runs the new base's manifest names: no longer
        live, swept here or by the next init."""
        storeio.sweep_runs(self.state_path)  # a crashed compaction's runs
        runs = storeio.runs(self.state_path)
        merged = cdc_collapse(
            self._aligned_state(runs).unionByName(typed),
            self.keys,
            pos_col=POS_COL,
            op_col=OP_COL,
            keep_deletes=True,  # tombstones persist in state
        )
        storeio.swap_in(
            merged, self.state_path, folded=[os.path.basename(r) for r in runs]
        )
        storeio.sweep_runs(self.state_path)
        self._base_schema = None  # the new base may carry a new schema
        self._pending_renames = {}  # the write persisted the new names
        self._pending_defaults = {}  # backfill is one-time, now in state

    def _advance_meta(self, top: str | None) -> None:
        """A21: advance the per-table watermark to the batch max pos —
        monotone, so a stale replay can never REGRESS the watermark
        (upsert itself is last-write-wins)."""
        if self.meta is None or top is None:
            return
        cur = self.meta.get_pos(self.data_source_id, sc=None, tb=self.table)
        if cur is None or top > cur:
            self.meta.upsert(
                self.data_source_id,
                top,
                sc=None,
                tb=self.table,
                sync_type="incremental",
            )

    def start(self, changes_stream: DataFrame, checkpoint_dir: str, query_name: str = "materialize"):
        # replay-guarded subclasses stamp state with this run identity so
        # a state dir re-pointed at a fresh checkpoint (batch ids restart
        # at 0) does not silently skip batches below the old stamp
        self._run_id = checkpoint_dir
        return (
            changes_stream.writeStream.queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.process_batch)
            .trigger(availableNow=True)
            .start()
        )
