"""Engine configuration: TOML/JSON file → typed config objects.

Mirrors the reference's boot configuration (`pkg/config/db.go:8,41-56`:
``LoadConfig("config.toml")`` parsing a ``CdcConfig`` with one ``[[db]]``
block per source, each carrying a numeric id, connection fields, and the
include/exclude filter rules) and its DSN assembly
(`internal/db/cdc_datasouce.go:58-69`).

File layout (TOML; `.json` with the same shape also accepted):

    [engine]
    meta_path      = "/data/cdc/meta"
    state_dir      = "/data/cdc/state"
    checkpoint_dir = "/data/cdc/ckpt"

    [[source]]
    id          = 1                 # replication server-id analog
    name        = "dev"
    type        = "parquet"         # parquet | jdbc | jdbc_metadata
    path        = "/data/seed"      # parquet root (type=parquet)
    schema_name = "main"
    changelog   = "/data/changelog" # incremental segment dir (optional)
    [source.primary_keys]
    region = ["r_regionkey"]
    [source.rules.global]
    include_tables = ["region", "nation"]

JDBC sources take either a full ``url`` or the reference's discrete
host/port/user/password/database fields, assembled by :meth:`SourceConfig.dsn`.
"""

from __future__ import annotations

import json
import tomllib
from dataclasses import dataclass, field
from pathlib import Path

from .functions.rules import FilterRules


@dataclass
class SourceConfig:
    """One ``[[source]]`` block (the reference's per-DB config +
    ``DataSourceHolder`` id, `internal/syncdb/data_source.go:42-55`)."""

    id: int
    name: str
    type: str = "parquet"  # parquet | jdbc | jdbc_metadata (portable discovery)
    # parquet
    path: str | None = None
    schema_name: str = "main"
    primary_keys: dict[str, list[str]] = field(default_factory=dict)
    # jdbc
    url: str | None = None
    host: str | None = None
    port: int = 3306
    user: str | None = None
    password: str | None = None
    database: str | None = None
    properties: dict[str, str] = field(default_factory=dict)
    num_partitions: int = 8
    # incremental
    changelog: str | None = None
    # native = CHANGE_EVENT_SCHEMA JSON-lines segments;
    # debezium = Debezium data-change messages (Kafka-topic values as
    # JSON lines), adapted via sources.debezium onto the same envelope
    changelog_format: str = "native"
    # optional Debezium schema-change topic dir, unioned into the stream
    # as op='ddl' events (only meaningful with changelog_format=debezium)
    schema_changelog: str | None = None
    # optional Debezium transaction-metadata topic dir
    # (provide.transaction.metadata=true): END events union in as
    # op='commit' — required for read_committed over a Debezium source,
    # since Debezium data events carry no XID-equivalent terminator
    txn_changelog: str | None = None
    # continuous-tail batch bound (the reference's 1000-message channel
    # analog): segment files per micro-batch, for latency and bounded
    # memory. availableNow catch-up drains read 8x this many, since each
    # micro-batch costs one full state merge per touched table and
    # per-segment batches would multiply the state rewrites for nothing
    max_files_per_trigger: int = 1
    # buffer row events until their txn's commit event (OnRow/OnXID
    # parity); default off = apply-as-they-arrive like the materializer
    read_committed: bool = False
    # maintain SCD2 version history instead of flat current state
    # (streaming/scd2.py): read_table() still serves current rows;
    # Engine.read_history / read_table_asof expose time travel
    history: bool = False
    # query-based incremental capture (sources/polling.py): poll the
    # JDBC source with plain SELECTs and write change events into the
    # changelog dir for the regular incremental drain — the public
    # Kafka-Connect-JDBC/Debezium fallback for databases whose
    # replication log we cannot tail. "incrementing" = high-watermark
    # over a monotonic version column (per-table options below);
    # "keydiff" = PK+fingerprint diff (captures hard deletes)
    capture: str | None = None  # None | "incrementing" | "keydiff"
    # per-table capture options, keyed by table name (or "schema.table"):
    # incrementing needs {"version_col": ...}, optional "deleted_col"
    capture_tables: dict[str, dict] = field(default_factory=dict)
    # MySQL binlog FILE ingestion (sources/binlog.py): a directory of
    # raw binlog v4 files (mysqlbinlog output, relay logs, S3 binlog
    # archives). Engine.ingest_binlogs decodes new files into the
    # changelog dir (wire-format decoder, CRC-verified), resuming by
    # GTID watermark — transactions already ingested are skipped even
    # when archive files overlap. Requires changelog_format='native'.
    binlog_dir: str | None = None
    # column-name fallback registry for 5.x binlogs (no COLUMN_NAME
    # optional metadata), keyed "schema.table" -> ordered column list
    binlog_tables: dict[str, list[str]] = field(default_factory=dict)
    # maintained time-series grid views (streaming/ivm.py::
    # IncrementalGrid): keys are "schema.table", options type_col /
    # ts_col / value_col (defaults event_type/ts/value).
    # Engine.sync_grids folds the changelog into the maintained sparse
    # grid (O(batch + touched cells) per micro-batch, calendar-bounded
    # state); Engine.read_grid serves the DENSE grid so the whole ts_*
    # consumer family runs off maintained state instead of rescanning
    # raw events — the 100 TB shape for the family (VERDICT r11 #4)
    grid_tables: dict[str, dict] = field(default_factory=dict)
    # dead-letter quarantine (streaming/dlq.py): one extra per-source
    # stream captures malformed/invalid changelog events with a reason
    # and the raw line into <state_dir>/quarantine/<name>; without it
    # PERMISSIVE parsing drops them silently (native format only)
    quarantine: bool = False
    # filtering
    rules: dict = field(default_factory=dict)

    def parsed_rules(self) -> FilterRules:
        return FilterRules.parse(self.rules)

    def dsn(self) -> str:
        """JDBC URL — given directly, or assembled from discrete fields
        like the reference's ``fmt.Sprintf`` DSN
        (`internal/db/cdc_datasouce.go:58-69`); credentials stay in
        ``properties`` (JDBC drivers take user/password out-of-band,
        unlike Go's in-DSN form)."""
        if self.url:
            return self.url
        if not (self.host and self.database):
            raise ValueError(f"source {self.name!r}: need url or host+database")
        return f"jdbc:mysql://{self.host}:{self.port}/{self.database}"

    def jdbc_properties(self) -> dict[str, str]:
        props = dict(self.properties)
        if self.user is not None:
            props.setdefault("user", self.user)
        if self.password is not None:
            props.setdefault("password", self.password)
        return props


@dataclass
class EngineConfig:
    meta_path: str
    state_dir: str
    checkpoint_dir: str
    sources: list[SourceConfig] = field(default_factory=list)


def _build(raw: dict) -> EngineConfig:
    eng = raw.get("engine", {})
    for key in ("meta_path", "state_dir", "checkpoint_dir"):
        if key not in eng:
            raise ValueError(f"[engine] missing required key {key!r}")
    sources = [SourceConfig(**s) for s in raw.get("source", [])]
    ids = [s.id for s in sources]
    if len(ids) != len(set(ids)):
        raise ValueError(f"duplicate source ids: {ids}")
    for s in sources:
        if s.changelog_format not in ("native", "debezium"):
            raise ValueError(
                f"source {s.name!r}: unknown changelog_format "
                f"{s.changelog_format!r} (native | debezium)"
            )
        if s.quarantine and s.changelog_format != "native":
            # the Debezium adapters parse topic values through their own
            # schemas; raw-line capture is wired for the native envelope
            raise ValueError(
                f"source {s.name!r}: quarantine requires "
                "changelog_format='native'"
            )
        if s.capture is not None:
            if s.capture not in ("incrementing", "timestamp", "keydiff"):
                raise ValueError(
                    f"source {s.name!r}: unknown capture {s.capture!r} "
                    "(incrementing | timestamp | keydiff)"
                )
            if not s.changelog or s.changelog_format != "native":
                raise ValueError(
                    f"source {s.name!r}: capture needs a changelog dir "
                    "with changelog_format='native' (capture WRITES the "
                    "changelog the incremental drain reads)"
                )
            if s.capture == "incrementing":
                if not s.capture_tables:
                    # version_col is inherently per-table, so unlike
                    # keydiff (which auto-discovers rule-included
                    # tables) an empty map cannot be filled in later —
                    # it would be a silent no-op the user reads as
                    # "CDC is running" (ADVICE r11)
                    raise ValueError(
                        f"source {s.name!r}: incrementing capture needs "
                        "a non-empty capture_tables map (version_col is "
                        "per-table; nothing can be auto-discovered)"
                    )
                for tb, opts in s.capture_tables.items():
                    if "version_col" not in opts:
                        raise ValueError(
                            f"source {s.name!r}: capture_tables[{tb!r}] "
                            "needs version_col for incrementing capture"
                        )
                    ov = opts.get("overlap", 0)
                    if not isinstance(ov, int) or ov < 0:
                        raise ValueError(
                            f"source {s.name!r}: capture_tables[{tb!r}] "
                            f"overlap must be a non-negative int, got {ov!r}"
                        )
            if s.capture == "timestamp":
                if not s.capture_tables:
                    # same reasoning as incrementing: timestamp_col is
                    # inherently per-table, nothing auto-discovers
                    raise ValueError(
                        f"source {s.name!r}: timestamp capture needs a "
                        "non-empty capture_tables map (timestamp_col is "
                        "per-table; nothing can be auto-discovered)"
                    )
                for tb, opts in s.capture_tables.items():
                    if "timestamp_col" not in opts:
                        raise ValueError(
                            f"source {s.name!r}: capture_tables[{tb!r}] "
                            "needs timestamp_col for timestamp capture"
                        )
                    ov = opts.get("overlap_ms", 0)
                    if not isinstance(ov, int) or ov < 0:
                        raise ValueError(
                            f"source {s.name!r}: capture_tables[{tb!r}] "
                            f"overlap_ms must be a non-negative int, got {ov!r}"
                        )
        if s.binlog_dir is not None:
            if not s.changelog or s.changelog_format != "native":
                raise ValueError(
                    f"source {s.name!r}: binlog_dir needs a changelog dir "
                    "with changelog_format='native' (the decoder WRITES "
                    "the changelog the incremental drain reads)"
                )
            for key, cols in s.binlog_tables.items():
                if "." not in key:
                    raise ValueError(
                        f"source {s.name!r}: binlog_tables key {key!r} "
                        "must be 'schema.table'"
                    )
                if not isinstance(cols, list) or not cols:
                    raise ValueError(
                        f"source {s.name!r}: binlog_tables[{key!r}] must "
                        "be a non-empty ordered column-name list"
                    )
        if s.grid_tables:
            if not s.changelog or s.changelog_format != "native":
                raise ValueError(
                    f"source {s.name!r}: grid_tables needs a changelog "
                    "dir with changelog_format='native' (the grid view "
                    "folds the change stream)"
                )
            for key, opts in s.grid_tables.items():
                if "." not in key:
                    raise ValueError(
                        f"source {s.name!r}: grid_tables key {key!r} "
                        "must be 'schema.table'"
                    )
                bad = set(opts) - {"type_col", "ts_col", "value_col"}
                if bad:
                    raise ValueError(
                        f"source {s.name!r}: grid_tables[{key!r}] has "
                        f"unknown options {sorted(bad)}"
                    )
        if s.changelog_format != "debezium":
            # These topics are only unioned into the stream by the
            # debezium branch of Engine._changelog_stream; a native
            # source carrying them would silently never see those
            # commits/DDL — fail at load time instead.
            for bad in ("txn_changelog", "schema_changelog"):
                if getattr(s, bad) is not None:
                    raise ValueError(
                        f"source {s.name!r}: {bad} requires "
                        "changelog_format='debezium' (ignored under "
                        f"{s.changelog_format!r})"
                    )
    return EngineConfig(
        meta_path=eng["meta_path"],
        state_dir=eng["state_dir"],
        checkpoint_dir=eng["checkpoint_dir"],
        sources=sources,
    )


def load_config(path: str) -> EngineConfig:
    """`config.LoadConfig` analog (`pkg/config/db.go:41-56`): parse the
    file by extension (.toml or .json) and validate."""
    p = Path(path)
    if p.suffix == ".toml":
        raw = tomllib.loads(p.read_text())
    elif p.suffix == ".json":
        raw = json.loads(p.read_text())
    else:
        raise ValueError(f"unsupported config format: {p.suffix!r} (toml/json)")
    return _build(raw)
