"""Query-based incremental CDC capture (polling) against any JDBC
database.

The reference's capture identity is a live MySQL replication client
(`internal/cannal/incremental.go:69-178`, ``BinlogSyncer.StartSyncGTID``)
— a socket this environment cannot open. The public fallback every CDC
stack ships for exactly that situation is QUERY-BASED capture (the
Kafka Connect JDBC source connector's ``incrementing``/``timestamp``
modes; Debezium's incremental-snapshot watermark pattern): poll the
table through plain SELECTs, turn the delta into change events, and
hand them to the same downstream appliers the log-based path feeds.

This module implements that pattern Spark-first. Each poll reads the
delta through ``spark.read.jdbc`` with the watermark predicate inside
the pushed-down derived table (the database scans its own index; Spark
never sees unchanged rows), converts rows to the engine's
CHANGE_EVENT_SCHEMA envelope JSON, and lands them as segment files in
the source's changelog directory — from there the existing
:meth:`Engine.incremental_sync` drain (streaming MERGE, latest-wins by
``pos``) applies them with no new code paths. Capture watermarks live
in the :class:`CheckpointStore` under the ``{source}#capture``
namespace, exactly like the binlog path's GTID watermark rows.

Two capture modes, matching the two public shapes:

- ``incrementing`` — a monotonically increasing version column
  (``version_col``: BIGINT version, auto-increment id, or an
  epoch-integer timestamp). Poll = ``WHERE v > :watermark``; O(delta)
  per poll with the predicate pushed to the database's index. Captures
  inserts+updates (emitted as ``update``; the MERGE is an upsert).
  Hard DELETEs are invisible to this mode — pass ``deleted_col`` (a
  soft-delete flag) to emit tombstones, the standard restriction of
  watermark polling (the Kafka Connect JDBC docs say the same).
  ``pos`` is derived from the version value itself, so the handoff rule
  (``pos > snapshot pos``) is exact when the snapshot position is the
  version watermark at snapshot time (:meth:`PollingCapture.seed`).
- ``keydiff`` — no version column required: fingerprint every row
  (``sha2`` of the non-key columns) and diff the current PK→fingerprint
  set against the previous poll's, kept as a parquet key-state table.
  Captures hard DELETEs. Cost is O(table) per poll but fully
  distributed (one partitioned JDBC scan + one shuffle join on the PK);
  the right tool for dimension-sized tables, documented as NOT the
  100 TB fact-table path — that's ``incrementing`` or a real log.

Crash contract (at-least-once, convergent): events land in the
changelog BEFORE the watermark/state advances. A crash in between
re-emits the same changes on the next poll at a HIGHER pos, and the
downstream latest-wins MERGE makes the replay a no-op. ``keydiff``
advances its poll sequence in meta before promoting key state, so a
half-promoted poll can re-emit but can never reuse a pos.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storeio
from .changelog import OP_DELETE, OP_UPDATE, POS_WIDTH
from .meta import CheckpointStore

CAPTURE_NS = "#capture"  # meta data_source_id suffix for capture watermarks


def _pos_col(col: F.Column) -> F.Column:
    """Zero-padded position string from an integral column
    (format_pos's vectorized twin — lexicographic order == numeric)."""
    return F.lpad(col.cast("bigint").cast("string"), POS_WIDTH, "0")


def _string_map(cols: list[str], prefix: str = "") -> F.Column:
    """MAP<STRING,STRING> image of the named columns — the envelope's
    transport form; values go through Spark's own CAST(… AS STRING) so
    the materializer's cast-back round-trips."""
    return F.map_from_arrays(
        F.array(*[F.lit(c) for c in cols]),
        F.array(*[F.col(prefix + c).cast("string") for c in cols]),
    )


def spark_decl(dtype: str) -> str:
    """Spark ``simpleString`` dtype → the MySQL-ish column declaration
    ``functions.ddl.evolve_schema`` parses — used when capture
    synthesizes ALTER events for drifted source schemas. Integer
    families widen (the envelope is stringly; widening is free)."""
    if dtype.startswith("decimal"):
        return dtype.upper()
    if dtype.startswith(("timestamp", "datetime")):
        return "DATETIME"
    if dtype.startswith(("varchar", "char", "string")):
        return "TEXT"
    return {
        "long": "BIGINT",
        "bigint": "BIGINT",
        "int": "INT",
        "smallint": "SMALLINT",
        "tinyint": "SMALLINT",
        "double": "DOUBLE",
        "float": "FLOAT",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "binary": "BLOB",
    }.get(dtype, "TEXT")


class PollingCapture:
    """Poll-to-changelog capture for one source (see module docstring).

    ``state_dir`` holds keydiff key-state tables; ``meta`` holds the
    per-table watermarks under ``{data_source}#capture``.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        properties: dict[str, str],
        changelog_dir: str,
        data_source: str,
        meta: CheckpointStore,
        state_dir: str | None = None,
        num_partitions: int = 8,
        read_table=None,
    ):
        self.spark = spark
        self.url = url
        self.properties = properties
        self.changelog_dir = changelog_dir
        self.data_source = data_source
        self.meta = meta
        self.state_dir = state_dir
        self.num_partitions = num_partitions
        # optional partitioned full-table reader (e.g. the snapshot
        # source's chunked-keyset read_table): keydiff's O(table) scans
        # go through it so they parallelize like the snapshot phase;
        # without it they fall back to a single-stream JDBC read —
        # fine for dimension tables, wrong for big ones
        self.read_table = read_table

    # -- shared plumbing ---------------------------------------------------

    def _meta_id(self) -> str:
        return f"{self.data_source}{CAPTURE_NS}"

    def _watermark(self, schema: str, table: str) -> str | None:
        return self.meta.get_pos(self._meta_id(), sc=schema, tb=table)

    def _set_watermark(self, schema: str, table: str, pos: str) -> None:
        self.meta.upsert(
            self._meta_id(), pos, sc=schema, tb=table, sync_type="capture"
        )

    def _query(self, q: str) -> DataFrame:
        """Pushed-down derived-table read (JdbcSnapshotSource._query's
        shape, snapshot.py:383): the WHERE runs inside the database."""
        return self.spark.read.jdbc(
            self.url, f"({q}) AS t", properties=self.properties
        )

    def _read_full(self, schema: str, table: str) -> DataFrame:
        if self.read_table is not None:
            return self.read_table(schema, table)
        return self._query(f"SELECT * FROM {schema}.{table}")

    def _emit(self, events: DataFrame, schema: str, table: str, tag: str) -> int:
        """Land envelope events as changelog segment files: write JSON
        lines to a sibling tmp dir, then rename each part file into the
        changelog dir (rename-in = atomic appearance; the file stream
        never sees a torn segment). Returns the event count.

        Two contract-critical details:

        - **Filenames are unique per emission** (``emit_id``), never
          reused across re-polls. Spark's FileStreamSource tracks seen
          files BY PATH; if a crash between the emit and the
          watermark/seq advance caused the replay to overwrite a
          same-named, already-drained segment, rows committed between
          the original poll and the replay would land in a file the
          stream never re-reads and then the watermark would advance
          past them. Unique names make every replay a NEW file — a
          convergent duplicate under the latest-wins MERGE instead of
          a silent loss.
        - **The count is computed distributed** (``lines.count()`` on
          the persisted delta), not by re-reading the written segments
          in Python on the driver — an O(delta-bytes) driver pass per
          poll at fact-table rates. ``persist`` pins the delta so the
          count and the write see the same JDBC read.
        """
        lines = events.select(F.to_json(F.struct(*events.columns)).alias("v"))
        parent = os.path.dirname(os.path.abspath(self.changelog_dir))
        emit_id = uuid.uuid4().hex[:8]
        tmp = os.path.join(parent, f".cap-tmp-{emit_id}")
        lines = lines.persist()
        try:
            n = int(lines.count())
            if n == 0:
                return 0
            # Bound the SEGMENT COUNT, not just the event count: the
            # cached plan writes one part file per pinned shuffle
            # partition (32 on the default session — AQE does not
            # re-coalesce cached output), and the downstream drain's
            # maxFilesPerTrigger turns 64 tiny segments into 16 state
            # rewrites (measured 10.3s vs 3.6s for the same 7k events,
            # SCALE.md round-12). File count = ceil(n / 50k), UNCAPPED
            # (ADVICE r12: a fixed min(8, …) ceiling silently broke the
            # per-file bound past 400k events): a poll is almost always
            # a small delta (1 file); a huge bootstrap gets one file
            # per ~50k events, and the availableNow drain batches them
            # (8x max_files_per_trigger files per trigger). coalesce
            # cannot EXCEED the plan's partition count, so past
            # (partitions × 50k) events per-file volume
            # grows proportionally — but the write stays parallel across
            # every partition, which is the hazard the bound exists for
            # (never serialize a bootstrap through one writer; never
            # fragment a poll into per-partition confetti).
            lines.coalesce(max(1, -(-n // 50_000))).write.mode(
                "overwrite"
            ).text(tmp)
            moved = 0
            for name in sorted(os.listdir(tmp)):
                if not name.startswith("part-"):
                    continue
                src = os.path.join(tmp, name)
                if os.path.getsize(src) == 0:
                    continue
                os.rename(
                    src,
                    os.path.join(
                        self.changelog_dir,
                        f"cap-{schema}.{table}-{tag}-{emit_id}-{moved:04d}.json",
                    ),
                )
                moved += 1
        finally:
            lines.unpersist()
            shutil.rmtree(tmp, ignore_errors=True)
        return n

    def emit_ddl(self, schema: str, table: str, query: str, pos: str) -> None:
        """Land ONE synthesized DDL envelope event (catalog-rate,
        driver-side write — no Spark job): query-based capture has no
        binlog QueryEvents, so schema drift observed at poll time
        (Engine.capture_poll) is forwarded as the ALTER statement the
        log-based path would have carried; the drain's
        ``_apply_ddl``/``evolve_schema`` is idempotent, so a re-poll
        re-emitting the same ALTER under a new filename is a no-op."""
        line = json.dumps(
            {
                "data_source": self.data_source,
                "schema": schema,
                "table": table,
                "op": "ddl",
                "data": {"query": query},
                "before": None,
                "ts": None,
                "pos": pos,
                "txn_id": None,
            }
        )
        parent = os.path.dirname(os.path.abspath(self.changelog_dir))
        emit_id = uuid.uuid4().hex[:8]
        tmp = os.path.join(parent, f".cap-ddl-{emit_id}")
        with open(tmp, "w") as f:
            f.write(line + "\n")
        os.rename(
            tmp,
            os.path.join(
                self.changelog_dir, f"cap-{schema}.{table}-ddl-{emit_id}.json"
            ),
        )

    def _envelope(
        self,
        rows: DataFrame,
        schema: str,
        table: str,
        op: F.Column,
        data: F.Column,
        before: F.Column,
        pos: F.Column,
    ) -> DataFrame:
        return rows.select(
            F.lit(self.data_source).alias("data_source"),
            F.lit(schema).alias("schema"),
            F.lit(table).alias("table"),
            op.alias("op"),
            data.alias("data"),
            before.alias("before"),
            F.lit(None).cast("timestamp_ntz").alias("ts"),
            pos.alias("pos"),
            F.lit(None).cast("string").alias("txn_id"),
        )

    def _versioned_events(
        self,
        delta: DataFrame,
        schema: str,
        table: str,
        pk_cols: list[str],
        pos: F.Column,
        deleted_col: str | None,
    ) -> DataFrame:
        """Watermark-mode delta rows → envelope events: updates carry
        the full row image; soft-deleted rows (``deleted_col`` truthy)
        tombstone with the PK in the before-image (shared by the
        incrementing and timestamp modes)."""
        cols = list(delta.columns)
        if deleted_col is not None:
            op = F.when(
                F.col(deleted_col).cast("boolean"), F.lit(OP_DELETE)
            ).otherwise(F.lit(OP_UPDATE))
            data = F.when(
                ~F.col(deleted_col).cast("boolean"), _string_map(cols)
            )
            before = F.when(
                F.col(deleted_col).cast("boolean"), _string_map(pk_cols)
            )
        else:
            op = F.lit(OP_UPDATE)
            data = _string_map(cols)
            before = F.lit(None).cast("map<string,string>")
        return self._envelope(delta, schema, table, op, data, before, pos)

    # -- incrementing mode ---------------------------------------------------

    def seed(self, schema: str, table: str, version_col: str) -> str:
        """Record the CURRENT max version as the capture watermark
        without emitting events — call BEFORE the full snapshot reads
        the table (seed-then-snapshot, the high-watermark handoff):
        rows committed between the seed and the snapshot read are ABOVE
        the watermark, so the first poll re-emits them — a convergent
        latest-wins duplicate; seeding after the snapshot would
        silently LOSE them instead. Returns the recorded pos string."""
        row = self._query(
            f"SELECT MAX({version_col}) AS v FROM {schema}.{table}"
        ).first()
        # positional access: identifier case is dialect-dependent (Derby
        # uppercases unquoted aliases)
        v = None if row is None else row[0]
        wm = "0" * POS_WIDTH if v is None else str(int(v)).zfill(POS_WIDTH)
        self._set_watermark(schema, table, wm)
        return wm

    def poll_incrementing(
        self,
        schema: str,
        table: str,
        pk_cols: list[str],
        version_col: str,
        deleted_col: str | None = None,
        overlap: int = 0,
    ) -> int:
        """One high-watermark poll: emit every row whose
        ``version_col`` advanced past the stored watermark, then move
        the watermark to the max version seen. No watermark yet (and no
        :meth:`seed`) = bootstrap poll: the whole table emits as
        updates, convergent under the latest-wins MERGE.

        With ``overlap == 0``, ``version_col`` must be strictly
        monotonic ACROSS COMMITS — a row committed late with an
        already-polled version is lost, the documented caveat of every
        watermark-polling CDC. ``overlap > 0`` is the standard public
        mitigation (Kafka Connect's ``timestamp.delay.interval.ms``
        analog): poll ``WHERE v > watermark - overlap`` so any commit
        that landed up to ``overlap`` version units behind the
        watermark is recovered on the next poll. The re-emitted
        already-seen rows inside the window are convergent duplicates
        under the latest-wins MERGE; cost is O(delta + window), still
        pushed to the database's index."""
        wm = self._watermark(schema, table)
        q = f"SELECT * FROM {schema}.{table}"
        if wm is not None:
            q += f" WHERE {version_col} > {int(wm) - int(overlap)}"
        # PIN the delta for the whole poll: the emit, the event count,
        # and the new-watermark max all read the SAME JDBC scan. A
        # fresh re-read for the watermark would race concurrent
        # commits — a row committed between the emit and the re-read
        # would advance the watermark PAST itself without ever being
        # emitted (silent loss). One scan is also the O(delta) cost
        # story: the database's index serves the predicate once.
        delta = self._query(q).persist()
        try:
            events = self._versioned_events(
                delta, schema, table, pk_cols,
                pos=_pos_col(F.col(version_col)), deleted_col=deleted_col,
            )
            head = delta.agg(
                F.max(F.col(version_col).cast("bigint")).alias("v")
            ).first()
            n = self._emit(events, schema, table, tag=wm or "bootstrap")
            if head is not None and head[0] is not None:
                new_wm = str(int(head[0])).zfill(POS_WIDTH)
                if wm is None or new_wm > wm:
                    self._set_watermark(schema, table, new_wm)
            return n
        finally:
            delta.unpersist()

    # -- timestamp / timestamp+incrementing mode ---------------------------

    def _jvm_wallclock_literal(self, micros: int) -> str:
        """Epoch micros → the DATABASE's wall-clock literal, rendered
        through the JVM's default zone — the exact inverse of the JDBC
        ingest conversion (the driver parses the DB's wall clock with
        the JVM default calendar; Spark's session timeZone only governs
        RENDERING, so ``date_format``/``cast(string)`` would shift the
        wall clock whenever session tz != JVM tz — e.g. this engine's
        UTC-pinned session on a non-UTC host). Catalog-rate (one py4j
        round trip per poll)."""
        jvm = self.spark.sparkContext._jvm
        inst = jvm.java.time.Instant.ofEpochSecond(
            micros // 1_000_000, (micros % 1_000_000) * 1000
        )
        ldt = jvm.java.time.LocalDateTime.ofInstant(
            inst, jvm.java.time.ZoneId.systemDefault()
        )
        return ldt.format(
            jvm.java.time.format.DateTimeFormatter.ofPattern(
                "yyyy-MM-dd HH:mm:ss.SSSSSS"
            )
        )

    @staticmethod
    def _ts_wm(micros: int, inc: int | None) -> str:
        """Watermark/pos encoding for timestamp mode: 20-digit epoch
        micros (+ 12-digit incrementing tiebreak) — fixed width, so
        lexicographic order == (ts, inc) order, tz-free by
        construction."""
        body = str(micros).zfill(20)
        return body if inc is None else body + str(inc).zfill(POS_WIDTH)

    def seed_timestamp(
        self,
        schema: str,
        table: str,
        timestamp_col: str,
        incrementing_col: str | None = None,
    ) -> str:
        """Record the CURRENT max (timestamp[, incrementing]) as the
        capture watermark without emitting — seed-then-snapshot, same
        ordering rule as :meth:`seed`. Empty table seeds at epoch 0 so
        the first poll is a delta, not a bootstrap."""
        df = self._query(
            f"SELECT MAX({timestamp_col}) AS t FROM {schema}.{table}"
        )
        row = df.select(F.unix_micros(df[df.columns[0]])).first()
        micros = 0 if row is None or row[0] is None else int(row[0])
        inc = None
        if incrementing_col is not None:
            inc = 0
            if micros:
                lit = self._jvm_wallclock_literal(micros)
                r = self._query(
                    f"SELECT MAX({incrementing_col}) AS i FROM {schema}.{table} "
                    f"WHERE {timestamp_col} = TIMESTAMP('{lit}')"
                ).first()
                inc = 0 if r is None or r[0] is None else int(r[0])
        wm = self._ts_wm(micros, inc)
        self._set_watermark(schema, table, wm)
        return wm

    def poll_timestamp(
        self,
        schema: str,
        table: str,
        pk_cols: list[str],
        timestamp_col: str,
        incrementing_col: str | None = None,
        deleted_col: str | None = None,
        overlap_ms: int = 0,
    ) -> int:
        """One timestamp-watermark poll — the OTHER standard
        Kafka-Connect-JDBC configuration (``timestamp`` /
        ``timestamp+incrementing`` modes): real tables usually carry
        ``last_modified TIMESTAMP``, not a monotonic version.

        - With ``incrementing_col``: the composite watermark
          ``(ts, inc)`` captures equal-timestamp ties EXACTLY —
          ``WHERE ts > :wm_ts OR (ts = :wm_ts AND inc > :wm_inc)``,
          both halves pushed to the database's index.
        - Without it: ``WHERE ts > :wm_ts``; rows that later commit AT
          the watermarked timestamp are invisible (the documented
          Connect restriction) unless ``overlap_ms > 0`` re-reads the
          trailing window — the ``timestamp.delay.interval.ms`` analog,
          convergent duplicates under the latest-wins MERGE.

        ``pos`` is the row's epoch-micros (+ incrementing tiebreak),
        zero-padded — tz-free, so the UTC-pinned engine session and a
        non-UTC JVM agree (see :meth:`_jvm_wallclock_literal` for why
        wall-clock strings would not). Rows with NULL ``timestamp_col``
        never match the predicate and are never captured — the
        documented restriction of every timestamp-polling CDC. One
        PINNED scan per poll, same race-closing rule as
        :meth:`poll_incrementing`."""
        wm = self._watermark(schema, table)
        q = f"SELECT * FROM {schema}.{table}"
        if wm is not None:
            wm_micros = int(wm[:20])
            wm_inc = int(wm[20:]) if len(wm) > 20 else None
            if overlap_ms > 0:
                # the widened window subsumes the tie clause: ties at
                # the exact watermark are inside (wm-overlap, wm]
                lit = self._jvm_wallclock_literal(
                    max(0, wm_micros - overlap_ms * 1000)
                )
                q += f" WHERE {timestamp_col} > TIMESTAMP('{lit}')"
            elif wm_inc is not None:
                lit = self._jvm_wallclock_literal(wm_micros)
                q += (
                    f" WHERE {timestamp_col} > TIMESTAMP('{lit}')"
                    f" OR ({timestamp_col} = TIMESTAMP('{lit}')"
                    f" AND {incrementing_col} > {wm_inc})"
                )
            else:
                lit = self._jvm_wallclock_literal(wm_micros)
                q += f" WHERE {timestamp_col} > TIMESTAMP('{lit}')"
        delta = self._query(q).persist()
        try:
            pos = F.lpad(
                F.unix_micros(F.col(timestamp_col)).cast("string"), 20, "0"
            )
            head_cols = [F.unix_micros(F.col(timestamp_col)).alias("t")]
            if incrementing_col is not None:
                pos = F.concat(pos, _pos_col(F.col(incrementing_col)))
                head_cols.append(
                    F.col(incrementing_col).cast("bigint").alias("i")
                )
            events = self._versioned_events(
                delta, schema, table, pk_cols, pos, deleted_col
            )
            head = (
                delta.select(F.max(F.struct(*head_cols)).alias("h")).first()
            )
            n = self._emit(events, schema, table, tag=wm or "bootstrap")
            if head is not None and head[0] is not None and head[0]["t"] is not None:
                new_wm = self._ts_wm(
                    int(head[0]["t"]),
                    int(head[0]["i"]) if incrementing_col is not None else None,
                )
                if wm is None or new_wm > wm:
                    self._set_watermark(schema, table, new_wm)
            return n
        finally:
            delta.unpersist()

    # -- keydiff mode ----------------------------------------------------

    def _key_state_path(self, schema: str, table: str) -> str:
        if not self.state_dir:
            raise ValueError("keydiff capture needs state_dir")
        return os.path.join(self.state_dir, f"{schema}.{table}.keys")

    def seed_keydiff(self, schema: str, table: str, pk_cols: list[str]) -> None:
        """Record the CURRENT table's key+fingerprint state without
        emitting events — call BEFORE the full snapshot reads the table
        (seed-then-snapshot): anything that changes between the seed and
        the snapshot read re-diffs on the first poll, a convergent
        duplicate; the reverse order would silently LOSE those rows."""
        current = self._read_full(schema, table)
        val_cols = sorted(c for c in current.columns if c not in pk_cols)
        fp = F.sha2(F.to_json(F.struct(*[F.col(c) for c in val_cols])), 256)
        state_path = self._key_state_path(schema, table)
        tmp = f"{state_path}.tmp-{uuid.uuid4().hex[:8]}"
        current.withColumn("__fp", fp).select(*pk_cols, "__fp").write.mode(
            "overwrite"
        ).parquet(tmp)
        storeio.promote_tmp(tmp, state_path)

    def poll_keydiff(self, schema: str, table: str, pk_cols: list[str]) -> int:
        """One fingerprint-diff poll: inserts/updates where the PK is
        new or the non-key fingerprint changed, hard DELETEs where a
        previously-seen PK vanished. ONE partitioned JDBC scan + one
        PK-shuffle full-outer join, PINNED for the whole poll; key
        state is a parquet table swapped via the storeio crash
        protocol.

        The pin is load-bearing twice over. Consistency: the emitted
        changes, the delete set, and the PROMOTED key state are all
        views of the same scan — re-reading the table for the state
        promote (the naive form) races concurrent commits, promoting a
        row as "seen" that was never emitted (silent loss; same hazard
        class as the incrementing watermark race). Cost: the naive form
        scans the table over JDBC three times per poll (diff join,
        delete emit recompute, state promote); the pinned join is
        scanned once and every consumer reads the cache — measured
        ~2.3× on the engine-bench polling phase (SCALE.md round-12).

        Schema drift (ADVICE r12, deliberate): after an ADD COLUMN the
        first poll fingerprints over val_cols that now include the new
        column while the stored state's fingerprints were computed
        without it — so every row whose new column is NON-NULL diffs as
        changed and re-emits in one burst (``to_json`` omits NULL
        fields, so rows still NULL in the new column keep their
        pre-drift fingerprint and do NOT re-emit — the burst is
        O(backfilled rows), not O(table)). That burst is the CORRECT
        behavior, not an oversight: it is the only convergent way to
        deliver the new column's existing values (e.g. an ALTER followed
        by a backfill UPDATE). The tempting "refresh the stored
        fingerprints in place without emitting" is SILENTLY LOSSY — a
        row whose only change since the last poll is in the new column
        would re-fingerprint as current without its value ever being
        emitted, and later polls (fp now includes the value) would see
        it as unchanged forever. The burst is convergent under the
        latest-wins MERGE, bounded by one table scan, and happens once
        per drift event (tests/test_polling_capture.py backfill test)."""
        current = self._read_full(schema, table)
        cols = current.columns
        val_cols = sorted(c for c in cols if c not in pk_cols)
        fp = F.sha2(F.to_json(F.struct(*[F.col(c) for c in val_cols])), 256)
        cur = current.withColumn("__fp", fp)

        state_path = self._key_state_path(schema, table)
        storeio.recover(state_path)
        if os.path.exists(state_path):
            prev = self.spark.read.parquet(state_path).select(
                *[F.col(c).alias(f"__prev_{c}") for c in pk_cols],
                F.col("__fp").alias("__prev_fp"),
            )
        else:
            prev = None

        seq = int(self._watermark(schema, table) or 0) + 1
        pos = F.lit(str(seq).zfill(POS_WIDTH))

        if prev is None:
            pinned = cur.persist()
            changed = pinned
            deletes = None
            snap = pinned.select(*pk_cols, "__fp")
        else:
            on = [F.col(k) == F.col(f"__prev_{k}") for k in pk_cols]
            pinned = cur.join(
                prev, on=on[0] if len(on) == 1 else F.expr(" AND ".join(
                    f"{k} = __prev_{k}" for k in pk_cols
                )), how="full_outer",
            ).persist()
            changed = pinned.filter(
                F.col(pk_cols[0]).isNotNull()
                & (
                    F.col(f"__prev_{pk_cols[0]}").isNull()
                    | (F.col("__fp") != F.col("__prev_fp"))
                )
            ).select(*cols, "__fp")
            deletes = pinned.filter(F.col(pk_cols[0]).isNull()).select(
                *[F.col(f"__prev_{k}").alias(k) for k in pk_cols]
            )
            # the current rows of THIS scan (cur side of the outer join)
            snap = pinned.filter(F.col(pk_cols[0]).isNotNull()).select(
                *pk_cols, "__fp"
            )

        try:
            n = self._emit(
                self._envelope(
                    changed.select(*cols), schema, table,
                    op=F.lit(OP_UPDATE), data=_string_map(cols),
                    before=F.lit(None).cast("map<string,string>"), pos=pos,
                ),
                schema, table, tag=f"kd{seq}-u",
            )
            if deletes is not None:
                n += self._emit(
                    self._envelope(
                        deletes, schema, table,
                        op=F.lit(OP_DELETE),
                        data=F.lit(None).cast("map<string,string>"),
                        before=_string_map(pk_cols), pos=pos,
                    ),
                    schema, table, tag=f"kd{seq}-d",
                )

            # advance the sequence BEFORE promoting key state: a crash in
            # between re-emits (convergent) but never reuses a pos
            self._set_watermark(schema, table, str(seq).zfill(POS_WIDTH))
            tmp = f"{state_path}.tmp-{uuid.uuid4().hex[:8]}"
            snap.write.mode("overwrite").parquet(tmp)
            storeio.promote_tmp(tmp, state_path)
            return n
        finally:
            pinned.unpersist()
