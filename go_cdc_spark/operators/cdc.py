"""CDC materialization operators: collapse-to-current-state and MERGE.

The engine's signature semantics, from the reference's design doc
(``docs/全量抓取逻辑.md:44-52``): a snapshot records a per-table position
(``tableGTID``); incremental events apply **only where pos exceeds it**,
making snapshot ⊕ stream gap-free and overlap-free without downstream
idempotency. Both operators are pure DataFrame plans:

- :func:`cdc_collapse` — latest event per PK by position, deletes drop
  the key. One shuffle on the PK (a window; Spark plans a partial
  top-1 per key below the exchange).
- :func:`apply_changes` — MERGE without Delta: collapse the changes,
  anti-join the snapshot on changed keys, union the non-delete images.
  The streaming engine does not rewrite the base per batch at all: it
  appends each batch's collapsed delta as a run and applies latest-wins
  on read (``streaming/pipeline.py``). Bucketing the base by PK would
  not bound a rewrite — a batch of d random keys touches 1−(1−1/B)^d of
  B buckets, 98% of 256 for 1,000 keys.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rules import FilterRules
from ..plans.registry import query
from ..sources.changelog import OP_DELETE
from ..tables import load


def cdc_collapse(
    changes: DataFrame,
    keys: list[str],
    pos_col: str = "pos",
    op_col: str = "op",
    keep_deletes: bool = False,
) -> DataFrame:
    """Collapse a change stream to current state: latest row per key by
    position; delete events tombstone the key (dropped unless asked for).

    Window ``row_number``: Spark's rank-limit pushdown (WindowGroupLimit,
    3.5+) plans a PARTIAL top-1-per-key prune below the key exchange, so
    even a hot key ships at most one surviving row per map partition —
    skew-safe, at the cost of a sort on each side of the shuffle (the
    plan shape is pinned in tests/test_plans.py)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(pos_col))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if keep_deletes:
        return latest
    return latest.filter(F.col(op_col) != OP_DELETE)


_DEC38 = "decimal(38,6)"


class _Collapsed(NamedTuple):
    changed: DataFrame  # the changed keys
    added: DataFrame  # after-images of keys whose final op is not a delete
    removed: DataFrame | None  # base rows of the changed keys


def _collapse_changes(
    changes: DataFrame,
    keys: list[str],
    pos_threshold: str | None,
    pos_col: str,
    op_col: str,
    base: DataFrame | None = None,
) -> _Collapsed:
    """The front half every batch operator below shares: drop events at
    or below the snapshot position (the reference's handoff rule),
    collapse to the latest event per key, and look the changed keys'
    before-images up from ``base`` by semi-join — the base is touched
    only through the changed keys (broadcast/DPP-prunable; a change
    batch is tiny next to the base)."""
    if pos_threshold is not None:
        changes = changes.filter(F.col(pos_col) > F.lit(pos_threshold))
    # the collapsed batch feeds several consumers; the LAZY pin
    # evaluates the events-scan + top-1 window ONCE per action instead
    # of once per consumer (change batches are bounded, so the pin is
    # batch-sized at any base-table scale)
    latest = cdc_collapse(
        changes, keys, pos_col=pos_col, op_col=op_col, keep_deletes=True
    ).localCheckpoint(eager=False)
    changed = latest.select(*keys)
    removed = None if base is None else base.join(changed, on=keys, how="left_semi")
    return _Collapsed(changed, latest.filter(F.col(op_col) != OP_DELETE), removed)


def _reject_clash(fn: str, group_cols: list[str], reserved: set[str]) -> None:
    clash = reserved & set(group_cols)
    if clash:
        raise ValueError(
            f"group_cols {sorted(clash)} collide with {fn}'s "
            f"result columns; rename the grouping column(s)"
        )


def _merge_delta(
    base: DataFrame, delta: DataFrame, cells: list[str], measures: dict[str, str]
) -> DataFrame:
    """Fold a signed delta into a stored aggregate: full-outer join on
    the cell columns, each measure ``m`` plus the delta's ``d<m>`` at
    type ``measures[m]``. Cells whose row count ``n`` is no longer
    positive drop (SQL GROUP BY existence)."""
    zero = {t: F.lit(0).cast(t) for t in measures.values()}
    return (
        base.join(delta, on=cells, how="full_outer")
        .select(
            *cells,
            *[
                (
                    F.coalesce(F.col(m).cast(t), zero[t])
                    + F.coalesce(F.col(f"d{m}"), zero[t])
                )
                .cast(t)
                .alias(m)
                for m, t in measures.items()
            ],
        )
        .filter(F.col("n") > 0)
    )


def _fold_sums(
    removed: DataFrame,
    added: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    base_agg: DataFrame | None,
    base: DataFrame,
) -> DataFrame:
    """COUNT(*) + exact-decimal SUMs per group: retract ``removed``,
    assert ``added`` (one union, one shuffle) and fold into
    ``base_agg`` — recomputed from ``base`` when no stored MV is given.
    Returns ``group_cols + [n (long), sum_<col> (decimal)]``."""
    from .relational import DEC

    def grouped(df: DataFrame, sign: int) -> DataFrame:
        aggs = [(F.count(F.lit(1)) * sign).cast("long").alias("n")] + [
            (F.sum(F.col(c).cast(DEC)) * sign).cast(_DEC38).alias(f"sum_{c}")
            for c in sum_cols
        ]
        return df.groupBy(*group_cols).agg(*aggs)

    if base_agg is None:
        base_agg = grouped(base, 1)
    delta = (
        grouped(removed, -1)
        .unionByName(grouped(added, 1))
        .groupBy(*group_cols)
        .agg(
            F.sum("n").cast("long").alias("dn"),
            *[F.sum(f"sum_{c}").cast(_DEC38).alias(f"dsum_{c}") for c in sum_cols],
        )
    )
    return _merge_delta(
        base_agg,
        delta,
        group_cols,
        {"n": "long", **{f"sum_{c}": _DEC38 for c in sum_cols}},
    )


def _fold_counts(
    snapshot: DataFrame,
    d: _Collapsed,
    group_cols: list[str],
    val_col: str,
    cell: Column,
    name: str,
    base: DataFrame | None,
) -> DataFrame:
    """The count-cell fold behind the histogram and the mode: per
    (group, cell) the signed count of non-NULL values — ``cell`` is a
    static bin of the value or the value itself, so a row's cell never
    depends on other rows and retraction is an exact signed delta.
    Returns ``group_cols + [name, n]`` with ``n > 0``."""
    cell = cell.alias(name)
    nn = F.col(val_col).isNotNull()

    def signed(df: DataFrame, sign: int) -> DataFrame:
        return df.filter(nn).select(*group_cols, cell, F.lit(sign).alias("__sign"))

    delta = (
        signed(d.removed, -1)
        .unionByName(signed(d.added, 1))
        .groupBy(*group_cols, name)
        .agg(F.sum("__sign").cast("long").alias("dn"))
    )
    if base is None:
        base = (
            snapshot.filter(nn)
            .groupBy(*group_cols, cell)
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    return _merge_delta(base, delta, [*group_cols, name], {"n": "long"})


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    pos_threshold: str | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """MERGE a change stream into a snapshot (latest-wins by position).

    ``changes`` must carry the snapshot's columns (typed images) plus
    ``pos``/``op``. ``pos_threshold`` is the per-table snapshot position:
    events at or below it were already reflected in the snapshot and are
    discarded (the reference's handoff rule; duplicate redelivery is
    likewise idempotent because the filter + latest-wins collapse are).
    """
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col)
    # Broadcast-able at typical change-batch sizes; AQE downgrades to
    # shuffled anti-join automatically when the change set is large.
    unchanged = snapshot.join(d.changed, on=keys, how="left_anti")
    return unchanged.unionByName(d.added.select(*snapshot.columns))


def materialize_changelog(
    changes: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    pos_threshold: str | None = None,
) -> DataFrame:
    """Envelope-in, table-out: cast MAP<STRING,STRING> images to the
    snapshot's types, then MERGE.

    Key columns fall back to the ``before`` image: a delete event has no
    after-image (``data`` is NULL, `internal/model/event.go:7-8` —
    Before carries the deleted row), but its key must still tombstone.
    """
    from go_cdc_spark.sources.changelog import decode_image_value

    image_cols = []
    for f in snapshot.schema.fields:
        col = F.col("data").getItem(f.name)
        if f.name in keys:
            col = F.coalesce(col, F.col("before").getItem(f.name))
        image_cols.append(decode_image_value(col, f.dataType).alias(f.name))
    typed = changes.select(*image_cols, F.col("pos"), F.col("op"))
    return apply_changes(snapshot, typed, keys, pos_threshold)


# ---------------------------------------------------------------------------
# Registered queries (driver-checked): the CDC semantics expressed over the
# corpus tables, so the oracle can verify them without private fixtures.
# ---------------------------------------------------------------------------


@query(
    "cdc_latest",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           ts AS last_ts,
           event_type AS last_type,
           value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse-to-current-state over the events stream: latest event per
    user_id by (ts, event_id); 'error' plays the delete/tombstone role."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


# Shared CTE: the deterministic customer-change stream derived from
# events, threshold-filtered and latest-wins collapsed — the common
# prefix of every CDC-over-fixture oracle below.
_CDC_CHANGES_CTE = """
changes AS (
    SELECT user_id AS c_custkey,
           CASE WHEN event_type = 'error' THEN 'delete'
                WHEN event_type = 'signup' THEN 'insert'
                ELSE 'update' END AS op,
           'user_' || CAST(user_id AS VARCHAR) AS c_name,
           CAST(user_id % 25 AS INT) AS c_nationkey,
           value AS c_acctbal,
           UPPER(event_type) AS c_mktsegment,
           lpad(CAST(event_id AS VARCHAR), 12, '0') AS pos
    FROM events
), filtered AS (
    SELECT * FROM changes WHERE pos > lpad('100', 12, '0')
), latest AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY c_custkey ORDER BY pos DESC) AS rn
        FROM filtered
    ) WHERE rn = 1
)
"""

_CDC_APPLY_ORACLE = f"""
WITH {_CDC_CHANGES_CTE}
SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
FROM customer c
WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM latest WHERE op <> 'delete'
"""


_CDC_TABLE_GTID = "100".zfill(12)


def _derived_customer_changes(ev: DataFrame) -> DataFrame:
    """The Spark twin of ``_CDC_CHANGES_CTE``'s ``changes`` step: a
    deterministic customer-image change stream derived from events."""
    return ev.select(
        F.col("user_id").alias("c_custkey"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .when(F.col("event_type") == "signup", F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("c_name"),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.col("value").alias("c_acctbal"),
        F.upper("event_type").alias("c_mktsegment"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("pos"),
    )


@query("cdc_apply_changes", oracle=_CDC_APPLY_ORACLE)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature MERGE: snapshot (customer) ⊕ change stream (derived
    deterministically from events) with the pos > tableGTID handoff rule.

    Exercises the real operator (:func:`apply_changes`) end-to-end:
    envelope → threshold filter → latest-wins collapse → anti-join+union.
    """
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    return apply_changes(cust, changes, keys=["c_custkey"], pos_threshold=_CDC_TABLE_GTID)


def incremental_agg(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    pos_threshold: str | None = None,
    base_agg: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental view maintenance of ``SELECT group_cols, COUNT(*),
    SUM(sum_cols…) FROM merged GROUP BY group_cols`` — maintained with
    signed deltas from the change stream, NEVER by re-merging and
    re-scanning the base table.

    The delta algebra (latest-wins MERGE semantics, matching
    :func:`apply_changes` / the reference's apply loop,
    docs/全量抓取逻辑.md:44-52): every key present in the collapsed
    change set retracts its base row (before-image, the snapshot's
    group) and, unless the final op is a delete, asserts its new image
    (after-image group — group migration falls out for free). Sums
    accumulate in exact decimal, so delta-maintenance is bit-identical
    to full recomputation at any parallelism.

    The signed fold is :func:`_fold_sums`. The before-image is LOOKED
    UP from the base table, touching only the changed keys, so the
    operator also covers minimal-image sources (a full-image event
    carries it, but nothing here depends on that).

    Scale shape: the base table is touched only by a semi-join on the
    changed keys (broadcast/DPP-prunable — a change batch is tiny next
    to a 100 TB base); when ``base_agg`` is supplied (the stored MV, as
    in a real deployment; schema ``group_cols + [n, sum_<col>…]``, the
    same shape this function returns) the base is never fully scanned
    at all and the per-batch cost is O(|changes| + |touched keys| +
    |groups|).

    Returns ``group_cols + [n (long), sum_<col> (decimal)]``.
    """
    _reject_clash(
        "incremental_agg",
        group_cols,
        {"n", "dn"} | {f"{p}sum_{c}" for c in sum_cols for p in ("", "d")},
    )
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col, snapshot)
    # Retract the before-image of every changed key (delete OR upsert);
    # assert the after-image of the survivors.
    return _fold_sums(d.removed, d.added, group_cols, sum_cols, base_agg, snapshot)


def incremental_minmax(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    val_col: str,
    pos_threshold: str | None = None,
    base_minmax: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of per-group MIN/MAX — the
    NON-distributive aggregate, where deltas alone cannot always answer:
    removing the row that held a group's extreme makes the runner-up
    unknowable without looking at the data again.

    Dirty-group repair, in minimal-image batch form:

    - inserts only TIGHTEN extremes: ``least/greatest`` against the
      maintained value, pure delta arithmetic;
    - a retraction (the before-image, looked up from the base by key)
      dirties its group only if it ties the maintained extreme —
      conservative under duplicate extremes, never wrong;
    - dirty groups are recomputed from surviving + upserted rows
      **scoped to those groups** (semi-join; with the base partitioned
      by group this is a partition-pruned rescan, not a table scan).
      Clean groups — the overwhelming majority under any realistic
      change batch — never touch the base beyond the key semi-join.

    Group existence follows SQL GROUP BY: row counts are maintained
    alongside the extremes, so all-NULL-valued groups survive (with
    NULL extremes) and NULL-valued retractions decrement counts
    without dirtying. A supplied ``base_minmax`` (stored MV) must
    carry ``group_cols + [min_val, max_val, n]``.

    Returns ``group_cols + [min_val, max_val]`` for non-empty groups.
    """
    _reject_clash(
        "incremental_minmax",
        group_cols,
        {"min_val", "max_val", "r_min", "r_max", "i_min", "i_max"},
    )
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col, snapshot)
    if base_minmax is None:
        base_minmax = snapshot.groupBy(*group_cols).agg(
            F.min(val_col).alias("min_val"),
            F.max(val_col).alias("max_val"),
            F.count(F.lit(1)).alias("n"),
        )
    rem = d.removed.groupBy(*group_cols).agg(
        F.min(val_col).alias("r_min"),
        F.max(val_col).alias("r_max"),
        F.count(F.lit(1)).alias("r_n"),
    )
    ins = d.added.groupBy(*group_cols).agg(
        F.min(val_col).alias("i_min"),
        F.max(val_col).alias("i_max"),
        F.count(F.lit(1)).alias("i_n"),
    )
    st = base_minmax.join(rem, on=group_cols, how="full_outer").join(
        ins, on=group_cols, how="full_outer"
    )
    dirty = F.col("r_min").isNotNull() & (
        F.col("min_val").isNull()
        | (F.col("r_min") <= F.col("min_val"))
        | (F.col("r_max") >= F.col("max_val"))
    )
    # group existence tracks ROW COUNT, not non-null extremes: a group
    # whose every value is NULL still exists (SQL GROUP BY semantics,
    # extremes NULL), and NULL-valued retractions never dirty a group
    # (they can't hold an extreme) but do decrement its row count.
    n_new = (
        F.coalesce(F.col("n"), F.lit(0))
        - F.coalesce(F.col("r_n"), F.lit(0))
        + F.coalesce(F.col("i_n"), F.lit(0))
    )
    clean = (
        st.filter(~F.coalesce(dirty, F.lit(False)))
        .filter(n_new > 0)
        .select(
            *group_cols,
            F.least("min_val", "i_min").alias("min_val"),
            F.greatest("max_val", "i_max").alias("max_val"),
        )
    )
    dirty_groups = st.filter(dirty).select(*group_cols)
    pool = (
        snapshot.join(d.changed, on=keys, how="left_anti")
        .select(*group_cols, val_col)
        .unionByName(d.added.select(*group_cols, val_col))
    )
    repaired = (
        pool.join(dirty_groups, on=group_cols, how="left_semi")
        .groupBy(*group_cols)
        .agg(F.min(val_col).alias("min_val"), F.max(val_col).alias("max_val"))
    )
    return clean.unionByName(repaired)


class _JoinDelta(NamedTuple):
    fact: _Collapsed
    changed_d: DataFrame  # changed dim keys, under the fact's fk names
    fact_after: DataFrame  # after-images of changed facts
    dim_new: DataFrame  # after-images of changed dims (fk names)
    dim_r: DataFrame  # pre-change dim (fk names)
    dim_merged: DataFrame  # post-change dim (fk names)
    fact_keep: DataFrame  # pre-change facts whose key did not change
    view_cols: list[str]


def _join_delta(
    fact: DataFrame,
    fact_changes: DataFrame,
    fact_keys: list[str],
    dim: DataFrame,
    dim_changes: DataFrame,
    dim_keys: list[str],
    fk: list[str],
    pos_threshold: str | None,
    pos_col: str,
    op_col: str,
) -> _JoinDelta:
    """Front half shared by the two join operators: both sides
    collapsed, and the dim-side join columns renamed to the fact's FK
    names once, so every join is a same-name equi-join (single key
    column out)."""
    f = _collapse_changes(fact_changes, fact_keys, pos_threshold, pos_col, op_col, fact)
    d = _collapse_changes(dim_changes, dim_keys, pos_threshold, pos_col, op_col)

    def as_fk(df: DataFrame) -> DataFrame:
        for d_, f_ in zip(dim_keys, fk):
            if d_ != f_:
                df = df.withColumnRenamed(d_, f_)
        return df

    changed_d = as_fk(d.changed)
    dim_new = as_fk(d.added.select(*dim.columns))
    dim_r = as_fk(dim)
    return _JoinDelta(
        fact=f,
        changed_d=changed_d,
        fact_after=f.added.select(*fact.columns),
        dim_new=dim_new,
        dim_r=dim_r,
        dim_merged=dim_r.join(changed_d, on=fk, how="left_anti").unionByName(dim_new),
        fact_keep=fact.join(f.changed, on=fact_keys, how="left_anti"),
        view_cols=fact.columns + [c for c in dim.columns if c not in dim_keys],
    )


def incremental_join(
    fact: DataFrame,
    fact_changes: DataFrame,
    fact_keys: list[str],
    dim: DataFrame,
    dim_changes: DataFrame,
    dim_keys: list[str],
    fk: list[str] | None = None,
    pos_threshold: str | None = None,
    base_view: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of the FK join view ``fact ⋈ dim ON
    fact[fk] = dim[dim_keys]`` under latest-wins change streams on BOTH
    sides — the textbook bilinear delta rule ``Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪
    ΔA⋈ΔB``, specialized to keyed MERGE streams so retractions are
    key-scoped anti-joins instead of multiset subtraction.

    The view is split into three disjoint parts (fact rows are keyed by
    ``fact_keys``, so each output row belongs to exactly one):

    - **survivors** — fact key untouched AND dim key untouched: with a
      stored ``base_view`` (must carry the function's own output schema
      — all ``fact`` columns plus the dim's non-key columns, as
      ``cdc_incremental_join`` stores it) these come from two broadcast
      anti-joins on the MV, never touching base tables; without one
      they are recomputed from the bases.
    - **dim fan-out** — untouched facts whose dim row changed, re-joined
      against the post-change dim images (a dim DELETE drops its facts,
      inner-join semantics). A dim-side change inherently touches every
      fact referencing it — that fan-out is the irreducible cost of join
      IVM, but it is reached through a semi-join on the changed dim keys
      (partition-prunable when the fact table is laid out by FK).
    - **fact-changed** — after-images of changed facts joined against
      the fully merged dim (dims are the small side; the merge is a
      broadcast-scale anti-join + union).

    Returns ``fact.columns + dim non-key columns``.
    """
    fk = fk or dim_keys
    j = _join_delta(
        fact, fact_changes, fact_keys, dim, dim_changes, dim_keys, fk,
        pos_threshold, pos_col, op_col,
    )
    if base_view is None:
        survivors = (
            j.fact_keep.join(j.changed_d, on=fk, how="left_anti")
            .join(j.dim_r.join(j.changed_d, on=fk, how="left_anti"), on=fk)
            .select(*j.view_cols)
        )
    else:
        survivors = (
            base_view.join(j.fact.changed, on=fact_keys, how="left_anti")
            .join(j.changed_d, on=fk, how="left_anti")
            .select(*j.view_cols)
        )
    dim_fanout = (
        j.fact_keep.join(j.changed_d, on=fk, how="left_semi")
        .join(j.dim_new, on=fk)
        .select(*j.view_cols)
    )
    fact_changed = j.fact_after.join(j.dim_merged, on=fk).select(*j.view_cols)
    return survivors.unionByName(dim_fanout).unionByName(fact_changed)


def incremental_join_agg(
    fact: DataFrame,
    fact_changes: DataFrame,
    fact_keys: list[str],
    dim: DataFrame,
    dim_changes: DataFrame,
    dim_keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    fk: list[str] | None = None,
    pos_threshold: str | None = None,
    base_view: DataFrame | None = None,
    base_agg: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of ``SELECT group_cols, COUNT(*),
    SUM(sum_cols…) FROM fact ⋈ dim GROUP BY group_cols`` under
    latest-wins change streams on BOTH sides — the aggregate-over-join
    composition (the DBToaster-style higher-order case in its first-
    order batch form): the bilinear rule's TOUCHED join-view rows fold
    into the stored aggregate as signed deltas, and the survivors —
    the overwhelming majority — are NEVER rescanned or even re-output
    (contrast :func:`incremental_join`, whose result IS the view, so
    it must at least emit them).

    Delta parts (disjoint by fact key):

    - **retractions** — OLD view rows whose fact key changed, plus old
      rows of untouched facts whose dim row changed; with a stored
      ``base_view`` both come from semi-joins on the MV, otherwise
      from key-scoped joins against the pre-change bases.
    - **assertions** — after-images of changed facts ⋈ fully merged
      dim, plus untouched facts ⋈ changed-dim after-images (a dim
      DELETE simply asserts nothing, dropping its facts' contribution).

    ``group_cols`` may come from EITHER side (they're read off the
    view-row images), so a dim rename migrates its whole group's mass
    via retract-under-old + assert-under-new — no special casing.
    Sums accumulate in exact decimal (the :func:`incremental_agg`
    policy), so delta maintenance is bit-identical to recomputation at
    any parallelism. A supplied ``base_agg`` (stored MV, schema
    ``group_cols + [n, sum_<col>…]``) makes the per-batch cost
    O(|changes| + fan-out of changed dim keys + |touched groups|).

    Returns ``group_cols + [n (long), sum_<col> (decimal)]``.
    """
    _reject_clash(
        "incremental_join_agg",
        group_cols,
        {"n", "dn"} | {f"{p}sum_{c}" for c in sum_cols for p in ("", "d")},
    )
    fk = fk or dim_keys
    j = _join_delta(
        fact, fact_changes, fact_keys, dim, dim_changes, dim_keys, fk,
        pos_threshold, pos_col, op_col,
    )
    cols = j.view_cols
    # retractions: old rows of (changed facts) ∪ (untouched facts with
    # a changed dim) — disjoint by construction
    if base_view is None:
        removed = (
            j.fact.removed.join(j.dim_r, on=fk)
            .select(*cols)
            .unionByName(
                j.fact_keep.join(j.changed_d, on=fk, how="left_semi")
                .join(j.dim_r, on=fk)
                .select(*cols)
            )
        )
    else:
        removed = (
            base_view.join(j.fact.changed, on=fact_keys, how="left_semi")
            .select(*cols)
            .unionByName(
                base_view.join(j.fact.changed, on=fact_keys, how="left_anti")
                .join(j.changed_d, on=fk, how="left_semi")
                .select(*cols)
            )
        )
    # assertions: the same two parts, post-change images
    added = (
        j.fact_after.join(j.dim_merged, on=fk)
        .select(*cols)
        .unionByName(
            j.fact_keep.join(j.changed_d, on=fk, how="left_semi")
            .join(j.dim_new, on=fk)
            .select(*cols)
        )
    )
    base = base_view if base_view is not None else fact.join(j.dim_r, on=fk)
    return _fold_sums(removed, added, group_cols, sum_cols, base_agg, base)


def incremental_distinct(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    val_col: str,
    pos_threshold: str | None = None,
    base_distinct: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of ``SELECT group_cols, COUNT(DISTINCT
    val_col), COUNT(*) FROM merged GROUP BY group_cols`` — the
    duplicate-SENSITIVE aggregate, where signed row deltas are not
    enough: removing one of three equal values must not decrement the
    distinct count, removing the last one must.

    The classical fix is a **support count** per ``(group, value)``
    pair. In this minimal-image batch form the support of every TOUCHED
    pair is looked up from the base with a semi-join (scoped — the
    overwhelming majority of pairs are never consulted), then the
    distinct delta per pair is the sign change ``(support' > 0) −
    (support > 0)``. NULL values follow SQL semantics: invisible to
    COUNT(DISTINCT), counted by COUNT(*) (which also tracks group
    existence, as in :func:`incremental_agg`).

    Per-batch cost: O(|changes| + |touched keys| + base rows sharing a
    touched (group, value) pair + |groups|). A supplied ``base_distinct``
    (stored MV, schema ``group_cols + [n_distinct, n]``) replaces the
    base aggregation scan.

    Returns ``group_cols + [n_distinct (long), n (long)]``.
    """
    _reject_clash(
        "incremental_distinct",
        group_cols,
        {"n_distinct", "n", "dn", "dn_distinct", "r_n", "i_n", "s_n"},
    )
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col, snapshot)
    removed, added = d.removed, d.added
    pair = group_cols + [val_col]

    # Row-count deltas (NULL values included: existence is row-based).
    rcnt = removed.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("r_rows"))
    icnt = added.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("i_rows"))
    dn = rcnt.join(icnt, on=group_cols, how="full_outer").select(
        *group_cols,
        (
            F.coalesce(F.col("i_rows"), F.lit(0)) - F.coalesce(F.col("r_rows"), F.lit(0))
        ).alias("dn"),
    )

    # Support arithmetic over the touched non-NULL (group, value) pairs.
    nn = F.col(val_col).isNotNull()
    r = removed.filter(nn).groupBy(*pair).agg(F.count(F.lit(1)).alias("r_n"))
    i = added.filter(nn).groupBy(*pair).agg(F.count(F.lit(1)).alias("i_n"))
    touched = r.join(i, on=pair, how="full_outer")
    s = (
        snapshot.filter(nn)
        .join(touched.select(*pair), on=pair, how="left_semi")
        .groupBy(*pair)
        .agg(F.count(F.lit(1)).alias("s_n"))
    )
    support = touched.join(s, on=pair, how="left_outer").select(
        *group_cols,
        F.coalesce(F.col("s_n"), F.lit(0)).alias("s_n"),
        (
            F.coalesce(F.col("s_n"), F.lit(0))
            - F.coalesce(F.col("r_n"), F.lit(0))
            + F.coalesce(F.col("i_n"), F.lit(0))
        ).alias("new_n"),
    )
    ddist = support.groupBy(*group_cols).agg(
        F.sum(
            (F.col("new_n") > 0).cast("long") - (F.col("s_n") > 0).cast("long")
        ).alias("dn_distinct")
    )

    if base_distinct is None:
        base_distinct = snapshot.groupBy(*group_cols).agg(
            F.count_distinct(F.col(val_col)).alias("n_distinct"),
            F.count(F.lit(1)).alias("n"),
        )
    return _merge_delta(
        base_distinct,
        ddist.join(dn, on=group_cols, how="full_outer"),
        group_cols,
        {"n_distinct": "long", "n": "long"},
    )


_CDC_IVM_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_nationkey, c_acctbal FROM latest WHERE op <> 'delete'
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_bal
FROM merged
GROUP BY c_nationkey
"""


_CDC_MINMAX_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_nationkey, c_acctbal FROM latest WHERE op <> 'delete'
)
SELECT c_nationkey,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM merged
GROUP BY c_nationkey
"""


@query("cdc_incremental_minmax", oracle=_CDC_MINMAX_ORACLE)
def cdc_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX maintenance over the CDC stream
    (:func:`incremental_minmax`): per-nation balance extremes kept
    current by tighten-on-insert + dirty-group repair on extreme
    retraction. The oracle recomputes from the fully merged table, so
    the gate proves the dirty rule loses nothing: every group whose
    extreme was retracted is repaired, every clean group's maintained
    value is already exact."""
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    mm = incremental_minmax(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        val_col="c_acctbal",
        pos_threshold=_CDC_TABLE_GTID,
    )
    return mm.select(
        "c_nationkey",
        F.col("min_val").alias("min_bal"),
        F.col("max_val").alias("max_bal"),
    )


@query("cdc_incremental_agg", oracle=_CDC_IVM_ORACLE)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate maintenance over the CDC stream (:func:`incremental_agg`):
    per-nation customer count + balance sum kept current by signed deltas.
    The oracle recomputes the aggregate from the fully merged table — the
    gate proves IVM ≡ recompute, including group migration (an update can
    move a customer to a different nation) and vanished/new groups.
    """
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    ivm = incremental_agg(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        sum_cols=["c_acctbal"],
        pos_threshold=_CDC_TABLE_GTID,
    )
    return ivm.select(
        "c_nationkey",
        F.col("n").alias("n_cust"),
        F.col("sum_c_acctbal").cast("double").alias("sum_bal"),
    )


# Dim-side change stream for the join-view IVM fixture: a thin slice of
# events becomes nation updates/deletes (a nation delete drops every
# customer of that nation from the view — inner-join semantics).
_CDC_NATION_CTE = """
nchanges AS (
    SELECT CAST(user_id % 25 AS INT) AS n_nationkey,
           CASE WHEN event_type = 'error' THEN 'delete' ELSE 'update' END AS op,
           'NATION_' || CAST(user_id % 25 AS VARCHAR) AS n_name,
           CAST(user_id % 5 AS INT) AS n_regionkey,
           lpad(CAST(event_id AS VARCHAR), 12, '0') AS pos
    FROM events WHERE event_id % 101 = 0
), nfiltered AS (
    SELECT * FROM nchanges WHERE pos > lpad('100', 12, '0')
), nlatest AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY n_nationkey ORDER BY pos DESC) AS rn
        FROM nfiltered
    ) WHERE rn = 1
)
"""


def _derived_nation_changes(ev: DataFrame) -> DataFrame:
    """Spark twin of ``_CDC_NATION_CTE``'s ``nchanges`` step."""
    return ev.filter(F.col("event_id") % 101 == 0).select(
        (F.col("user_id") % 25).cast("int").alias("n_nationkey"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.concat(F.lit("NATION_"), (F.col("user_id") % 25).cast("string")).alias(
            "n_name"
        ),
        (F.col("user_id") % 5).cast("int").alias("n_regionkey"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("pos"),
    )


_CDC_JOIN_AGG_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
{_CDC_NATION_CTE},
merged_c AS (
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM latest WHERE op <> 'delete'
),
merged_n AS (
    SELECT n.n_nationkey, n.n_name
    FROM nation n
    WHERE n.n_nationkey NOT IN (SELECT n_nationkey FROM nlatest)
    UNION ALL
    SELECT n_nationkey, n_name
    FROM nlatest WHERE op <> 'delete'
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           AS sum_bal
FROM merged_c c JOIN merged_n n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("cdc_incremental_join_agg", oracle=_CDC_JOIN_AGG_ORACLE)
def cdc_incremental_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-join maintenance (:func:`incremental_join_agg`,
    the 10th IVM algebra): customer count + exact-decimal balance sum
    per nation NAME — a dim-side group key, so a nation rename must
    migrate its whole group's mass — kept current under change streams
    on BOTH join sides without rescanning (or even emitting) the
    untouched view rows. Driven through the stored-MV path
    (``base_view`` = the pre-change join, as a real deployment stores
    it). The oracle recomputes the aggregate from the two fully merged
    tables — delta maintenance must be bit-identical."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ev = load(spark, sf_dir, "events")
    cchanges = _derived_customer_changes(ev).drop("c_mktsegment", "c_name")
    nchanges = _derived_nation_changes(ev).drop("n_regionkey")
    base_view = cust.join(
        nat.withColumnRenamed("n_nationkey", "c_nationkey"), on="c_nationkey"
    )
    agg = incremental_join_agg(
        cust,
        cchanges,
        fact_keys=["c_custkey"],
        dim=nat,
        dim_changes=nchanges,
        dim_keys=["n_nationkey"],
        group_cols=["n_name"],
        sum_cols=["c_acctbal"],
        fk=["c_nationkey"],
        pos_threshold=_CDC_TABLE_GTID,
        base_view=base_view,
    )
    return agg.select(
        "n_name",
        F.col("n").alias("n_cust"),
        F.col("sum_c_acctbal").cast("double").alias("sum_bal"),
    )


_CDC_JOIN_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
{_CDC_NATION_CTE},
merged_c AS (
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM latest WHERE op <> 'delete'
),
merged_n AS (
    SELECT n.n_nationkey, n.n_name, n.n_regionkey
    FROM nation n
    WHERE n.n_nationkey NOT IN (SELECT n_nationkey FROM nlatest)
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey
    FROM nlatest WHERE op <> 'delete'
)
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name, n.n_regionkey
FROM merged_c c JOIN merged_n n ON c.c_nationkey = n.n_nationkey
"""


@query("cdc_incremental_join", oracle=_CDC_JOIN_ORACLE)
def cdc_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance (:func:`incremental_join`): customer ⋈
    nation kept current under change streams on BOTH sides, through the
    stored-MV path (``base_view`` = the pre-change join). The oracle
    recomputes the join from the two fully merged tables — the gate
    proves the three-way delta split (survivors / dim fan-out /
    fact-changed) loses and duplicates nothing, including nation
    deletes dropping their customers and customers upserted into a
    renamed nation."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nat = load(spark, sf_dir, "nation")
    ev = load(spark, sf_dir, "events")
    cchanges = _derived_customer_changes(ev).drop("c_mktsegment")
    nchanges = _derived_nation_changes(ev)
    base_view = cust.join(
        nat.withColumnRenamed("n_nationkey", "c_nationkey"), on="c_nationkey"
    )
    view = incremental_join(
        cust,
        cchanges,
        fact_keys=["c_custkey"],
        dim=nat,
        dim_changes=nchanges,
        dim_keys=["n_nationkey"],
        fk=["c_nationkey"],
        pos_threshold=_CDC_TABLE_GTID,
        base_view=base_view,
    )
    return view.select("c_custkey", "c_name", "c_acctbal", "n_name", "n_regionkey")


_CDC_DISTINCT_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_nationkey, c.c_mktsegment
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_nationkey, c_mktsegment FROM latest WHERE op <> 'delete'
)
SELECT c_nationkey,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_seg,
       CAST(COUNT(*) AS BIGINT) AS n_cust
FROM merged
GROUP BY c_nationkey
"""


@query("cdc_incremental_distinct", oracle=_CDC_DISTINCT_ORACLE)
def cdc_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) maintenance (:func:`incremental_distinct`):
    distinct market segments per nation under the customer change
    stream — which INTRODUCES new segment values (upper-cased event
    types), so both sign directions of the support rule fire: last
    holder of a segment deleted (−1) and first holder of a new segment
    upserted (+1). Oracle recomputes from the merged table."""
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    d = incremental_distinct(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        val_col="c_mktsegment",
        pos_threshold=_CDC_TABLE_GTID,
    )
    return d.select(
        "c_nationkey",
        F.col("n_distinct").alias("n_seg"),
        F.col("n").alias("n_cust"),
    )


def _topk_rows(
    df: DataFrame,
    group_cols: list[str],
    keys: list[str],
    val_col: str,
    k: int,
) -> DataFrame:
    """Per-group top-k rows by (val DESC, keys ASC) — deterministic
    tie-break, NULLS LAST pinned explicitly (Spark's desc default; must
    be stated in the oracle, where DuckDB agrees only by its own
    default)."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc_nulls_last(val_col), *[F.asc(c) for c in keys]
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*group_cols, *keys, val_col, F.col("rank").cast("int").alias("rank"))
    )


def incremental_topk(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    val_col: str,
    k: int,
    pos_threshold: str | None = None,
    base_topk: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of the per-group top-k rows (rank by
    ``val_col`` DESC, ties by ``keys``) under a latest-wins keyed change
    stream — the rank-k generalization of :func:`incremental_minmax`:
    a retraction anywhere in a group's current top-k needs the
    (k+1)-th row, which no maintained state below O(group) can supply,
    so touched groups take a SCOPED rescan while untouched groups come
    straight from the stored MV. This is the eager-batch form of
    min/max's dirty-flag-and-repair — the repair is folded into the
    batch because the batch operator has the base at hand.

    - **survivors** — groups no change touched (neither a changed key's
      old group nor an after-image's new group): anti-join on the MV
      (``base_topk``, schema ``group_cols + keys + [val_col, rank]``),
      base untouched.
    - **touched groups** — rescan scoped by a semi-join: pool = (base
      rows minus changed keys) ∪ after-images, restricted to touched
      groups, re-ranked. Cost O(rows of touched groups), the
      irreducible price of exact deletable rank-k.

    Returns ``group_cols + keys + [val_col, rank]``.
    """
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col, snapshot)
    touched = (
        d.removed.select(*group_cols)
        .unionByName(d.added.select(*group_cols))
        .distinct()
    )
    row_cols = group_cols + keys + [val_col]
    if base_topk is None:
        base_topk = _topk_rows(snapshot, group_cols, keys, val_col, k)
    survivors = base_topk.join(touched, on=group_cols, how="left_anti")
    pool = (
        snapshot.join(d.changed, on=keys, how="left_anti")
        .select(*row_cols)
        .unionByName(d.added.select(*row_cols))
        .join(F.broadcast(touched), on=group_cols, how="left_semi")
    )
    repaired = _topk_rows(pool, group_cols, keys, val_col, k)
    return survivors.unionByName(repaired)


def _bin_expr(col: Column | str, lo: float, hi: float, nbins: int) -> Column:
    """Static value-range bin in [0, nbins): floor((v − lo) · nbins /
    (hi − lo)), clamped. The SAME double expression (operand order and
    all) as the SQL twin, so the floor is bit-identical cross-engine;
    bin edges are change-independent constants — the property that
    makes the histogram a pure signed-delta fold."""
    if isinstance(col, str):
        col = F.col(col)
    raw = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        * F.lit(float(nbins))
        / F.lit(float(hi - lo))
    ).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))


def incremental_histogram(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    val_col: str,
    lo: float,
    hi: float,
    nbins: int,
    pos_threshold: str | None = None,
    base_hist: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of a fixed-bin value histogram per group
    — the fully-foldable member of the IVM family: because bin edges
    are static constants, a row's bin never depends on other rows, so
    retractions are exact signed deltas (no dirty flags, no rescans —
    contrast min/max and top-k, whose state depends on the order
    statistics of the whole group). The maintained histogram then
    answers quantile reads (:func:`histogram_percentiles`) with
    bin-resolution accuracy — the classical approximate-percentile
    trade, kept exactly reproducible cross-engine by integer cumulative
    arithmetic.

    Per-batch cost: O(changes + touched (group, bin) cells). Returns
    ``group_cols + [bin, n]`` with ``n > 0``.
    """
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col, snapshot)
    return _fold_counts(
        snapshot, d, group_cols, val_col, _bin_expr(val_col, lo, hi, nbins), "bin",
        base_hist,
    )


def histogram_percentiles(
    hist: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Quantile read over a maintained histogram: per group, the
    smallest bin whose cumulative count reaches p of the total, for
    p ∈ {0.5, 0.9, 0.99} — INTEGER comparisons only (2·cum ≥ total
    etc.), so Spark and any SQL engine agree bit-for-bit."""
    w = Window.partitionBy(*group_cols).orderBy("bin")
    wg = Window.partitionBy(*group_cols)
    c = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(wg)
    )
    def pick(num: int, den: int):
        return F.min(
            F.when(F.col("cum") * den >= F.col("total") * num, F.col("bin"))
        ).cast("int")
    return c.groupBy(*group_cols).agg(
        F.max("total").cast("long").alias("n_vals"),
        pick(1, 2).alias("p50_bin"),
        pick(9, 10).alias("p90_bin"),
        pick(99, 100).alias("p99_bin"),
    )


_HIST_LO, _HIST_HI, _HIST_BINS = -1000.0, 10000.0, 55

_CDC_HIST_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_nationkey, c_acctbal FROM latest WHERE op <> 'delete'
),
h AS (
    SELECT c_nationkey,
           LEAST(GREATEST(CAST(floor((CAST(c_acctbal AS DOUBLE) - ({_HIST_LO})) * {float(_HIST_BINS)} / {float(_HIST_HI - _HIST_LO)}) AS BIGINT), 0), {_HIST_BINS - 1}) AS bin,
           COUNT(*) AS n
    FROM merged WHERE c_acctbal IS NOT NULL
    GROUP BY 1, 2
),
c AS (
    SELECT c_nationkey, bin, n,
           SUM(n) OVER (PARTITION BY c_nationkey ORDER BY bin) AS cum,
           SUM(n) OVER (PARTITION BY c_nationkey) AS total
    FROM h
)
SELECT c_nationkey,
       CAST(MAX(total) AS BIGINT) AS n_vals,
       CAST(MIN(CASE WHEN cum * 2 >= total * 1 THEN bin END) AS INT) AS p50_bin,
       CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN bin END) AS INT) AS p90_bin,
       CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN bin END) AS INT) AS p99_bin
FROM c
GROUP BY c_nationkey
"""


@query("cdc_incremental_histogram", oracle=_CDC_HIST_ORACLE)
def cdc_incremental_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram/quantile maintenance (:func:`incremental_histogram`):
    per-nation balance distribution in {_HIST_BINS} static bins kept
    current by pure signed deltas (the fully-foldable IVM case — static
    bin edges make retraction exact, no dirty state), read out as
    bin-resolution p50/p90/p99. The oracle recomputes the histogram and
    the integer cumulative walk from the fully merged table."""
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    hist = incremental_histogram(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        val_col="c_acctbal",
        lo=_HIST_LO,
        hi=_HIST_HI,
        nbins=_HIST_BINS,
        pos_threshold=_CDC_TABLE_GTID,
    )
    return histogram_percentiles(hist, ["c_nationkey"])



def incremental_mode(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    val_col: str,
    pos_threshold: str | None = None,
    base_counts: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Incremental maintenance of the per-(group, value) count relation
    — the state behind a MODE read. Like the histogram it is fully
    foldable (a value's count is row-independent, so retraction is an
    exact signed delta — no dirty flags, no rescans); unlike the
    histogram the "bin" is the exact value itself, so the read
    (:func:`mode_read`) is order-statistics-free: top-1 by (count DESC,
    value ASC) over histogram-sized state.

    Per-batch cost: O(changes + touched (group, value) cells). Returns
    ``group_cols + [val_col, n]`` with ``n > 0``.
    """
    d = _collapse_changes(changes, keys, pos_threshold, pos_col, op_col, snapshot)
    return _fold_counts(
        snapshot, d, group_cols, val_col, F.col(val_col), val_col, base_counts
    )


def mode_read(counts: DataFrame, group_cols: list[str], val_col: str) -> DataFrame:
    """MODE read over maintained (group, value) counts: top-1 by
    (count DESC, value ASC) — the deterministic tie-break shared with
    the batch ``agg_mode``, so both engines and both maintenance paths
    agree bit-for-bit."""
    w = Window.partitionBy(*group_cols).orderBy(F.desc("n"), F.asc(val_col))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *group_cols,
            F.col(val_col).alias("mode_value"),
            F.col("n").cast("long").alias("mode_count"),
        )
    )


_CDC_MODE_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_nationkey, c.c_mktsegment
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_nationkey, c_mktsegment FROM latest WHERE op <> 'delete'
),
h AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
    FROM merged WHERE c_mktsegment IS NOT NULL
    GROUP BY 1, 2
)
SELECT c_nationkey, mode_value, CAST(n AS BIGINT) AS mode_count
FROM (
    SELECT c_nationkey, c_mktsegment AS mode_value, n,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey
                              ORDER BY n DESC, c_mktsegment) AS rn
    FROM h
) WHERE rn = 1
"""


@query("cdc_incremental_mode", oracle=_CDC_MODE_ORACLE)
def cdc_incremental_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE maintenance (:func:`incremental_mode`) — the 9th IVM
    algebra: per-nation modal market segment kept current by pure
    signed deltas over the (group, value) count relation (fully
    foldable, like the histogram — a value's count never depends on
    other rows, so retraction is exact), read out as top-1 with the
    (count DESC, value ASC) tie-break shared with the batch
    ``agg_mode``. The oracle recomputes the counts from the fully
    merged table — delta maintenance must be bit-identical to
    recomputation."""
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    counts = incremental_mode(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        val_col="c_mktsegment",
        pos_threshold=_CDC_TABLE_GTID,
    )
    return mode_read(counts, ["c_nationkey"], "c_mktsegment")


_CDC_TOPK_K = 3

_CDC_TOPK_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_custkey, c_nationkey, c_acctbal FROM latest WHERE op <> 'delete'
)
SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS rn
    FROM merged
) WHERE rn <= {_CDC_TOPK_K}
"""


@query("cdc_incremental_topk", oracle=_CDC_TOPK_ORACLE)
def cdc_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k maintenance (:func:`incremental_topk`): each nation's top-3
    customers by balance kept current under the change stream, through
    the stored-MV path. The oracle recomputes rank ≤ 3 from the fully
    merged table — the gate proves the touched-group rescan loses
    nothing: a changed key's OLD group re-ranks (its row may have been
    in the top-3), the NEW group re-ranks (the row may enter), and
    every untouched group's stored rows are already exact."""
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    base = _topk_rows(cust, ["c_nationkey"], ["c_custkey"], "c_acctbal", _CDC_TOPK_K)
    return incremental_topk(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        val_col="c_acctbal",
        k=_CDC_TOPK_K,
        pos_threshold=_CDC_TABLE_GTID,
        base_topk=base,
    )


def incremental_stats(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    group_cols: list[str],
    val_col: str,
    pos_threshold: str | None = None,
    base_stats: DataFrame | None = None,
    pos_col: str = "pos",
    op_col: str = "op",
) -> DataFrame:
    """Per-group second-moment power sums — ``COUNT(*)``,
    ``COUNT(val)``, ``Σval``, ``Σval²`` — maintained from the change
    stream by signed deltas; mean/variance/stddev derive at read time.

    The second fully-foldable IVM member after the histogram: a row's
    contribution to each power sum is independent of every other row,
    so retraction is an exact signed delta with no dirty flags or
    rescans. The part that makes retraction EXACT (not just unbiased)
    is the accumulation type: Σval and Σval² ride the repo's decimal
    policy (val and val² cast to decimal per element — deterministic
    per-element rounding — then summed exactly), so maintained sums are
    bit-identical to a full recompute at any parallelism. A float
    accumulator could not deliver that: ``(a + b) − b ≠ a`` in binary
    float, and months of folds would accumulate cancellation residue.

    Delegates the delta algebra (latest-wins collapse, before-image
    lookup scoped by semi-join, after-image assertion, MV merge) to
    :func:`incremental_agg` over derived columns. ``base_stats``, when
    supplied, is the stored MV in THIS function's output shape
    (``group_cols + [n, n_vals, sum_val, sum_sq]``).

    Returns ``group_cols + [n (long), n_vals (long), sum_val
    (decimal), sum_sq (decimal)]``. NULL values count toward ``n``
    but not ``n_vals``/sums — SQL aggregate semantics.
    """
    dec38 = "decimal(38,6)"
    sq_c, nn_c = "__sq", "__nn"

    def widen(df: DataFrame) -> DataFrame:
        v = F.col(val_col)
        return df.withColumn(sq_c, (v * v).cast("decimal(28,6)")).withColumn(
            nn_c,
            F.when(v.isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("decimal(18,6)"),
        )

    if base_stats is not None:
        base_stats = base_stats.select(
            *group_cols,
            "n",
            F.col("sum_val").cast(dec38).alias(f"sum_{val_col}"),
            F.col("sum_sq").cast(dec38).alias(f"sum_{sq_c}"),
            F.col("n_vals").cast(dec38).alias(f"sum_{nn_c}"),
        )
    agg = incremental_agg(
        widen(snapshot),
        widen(changes),
        keys,
        group_cols,
        sum_cols=[val_col, sq_c, nn_c],
        pos_threshold=pos_threshold,
        base_agg=base_stats,
        pos_col=pos_col,
        op_col=op_col,
    )
    return agg.select(
        *group_cols,
        "n",
        F.col(f"sum_{nn_c}").cast("long").alias("n_vals"),
        F.col(f"sum_{val_col}").alias("sum_val"),
        F.col(f"sum_{sq_c}").alias("sum_sq"),
    )


_CDC_STATS_ORACLE = f"""
WITH {_CDC_CHANGES_CTE},
merged AS (
    SELECT c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_nationkey, c_acctbal FROM latest WHERE op <> 'delete'
),
sums AS (
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(COUNT(c_acctbal) AS BIGINT) AS n_vals,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR)
                AS DOUBLE) AS sum_bal,
           CAST(CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(28,6)))
                AS VARCHAR) AS DOUBLE) AS sum_sq
    FROM merged
    GROUP BY c_nationkey
)
SELECT c_nationkey, n_cust, n_vals,
       sum_bal / n_vals AS mean_bal,
       CASE WHEN n_vals > 1 THEN
           SQRT(GREATEST((sum_sq - (sum_bal * sum_bal) / n_vals)
                         / (n_vals - 1), 0.0))
       END AS stddev_bal
FROM sums
"""


@query("cdc_incremental_stats", oracle=_CDC_STATS_ORACLE)
def cdc_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment-statistics maintenance (:func:`incremental_stats`):
    per-nation balance mean + sample stddev kept current by signed
    power-sum deltas, never re-scanning the base. The oracle recomputes
    the power sums from the fully merged table with the same
    deterministic per-element decimal rounding, so the gate proves
    maintained sums ≡ recomputed sums bit-for-bit — including group
    migration and vanished/new groups. Both engines derive the
    statistics from identical doubles (decimal→double via Spark cast /
    DuckDB VARCHAR hop, both correctly rounded)."""
    cust = load(spark, sf_dir, "customer")
    changes = _derived_customer_changes(load(spark, sf_dir, "events"))
    st = incremental_stats(
        cust,
        changes,
        keys=["c_custkey"],
        group_cols=["c_nationkey"],
        val_col="c_acctbal",
        pos_threshold=_CDC_TABLE_GTID,
    )
    n_vals = F.col("n_vals")
    sv = F.col("sum_val").cast("double")
    sq = F.col("sum_sq").cast("double")
    var = (sq - (sv * sv) / n_vals) / (n_vals - 1)
    return st.select(
        "c_nationkey",
        F.col("n").alias("n_cust"),
        "n_vals",
        (sv / n_vals).alias("mean_bal"),
        F.when(n_vals > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("stddev_bal"),
    )


@query(
    "filter_rules",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CASE WHEN lang = 'zh' THEN source = 'src1'
               ELSE (lang IN ('en', 'es', 'de'))
                    AND NOT (source = 'src0' OR source LIKE 'src3%')
          END
    """,
)
def filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's include/exclude rule filter (A8) compiled to a
    Column expression, applied with documents.(lang, source) standing in
    for (schema, table): global pattern with schema allowlist + exclude
    list incl. a `src3_`-style prefix wildcard, and a per-schema override
    for 'zh' that replaces the global rule entirely."""
    rules = FilterRules.parse(
        {
            "global": {
                "include_schemas": "en,es,de",
                "exclude_tables": "src0,src3_",
            },
            "schemas": {"zh": {"include_tables": "src1"}},
        }
    )
    docs = load(spark, sf_dir, "documents")
    return docs.filter(rules.to_column(F.col("lang"), F.col("source"))).select(
        "doc_id", "lang", "source"
    )


_GTID_RANGES = {
    "11111111-0000-0000-0000-000000000000": [(1, 2000)],
    "22222222-0000-0000-0000-000000000000": [(500, 1500), (3000, 4000)],
}


@query(
    "gtid_covers",
    oracle="""
    SELECT event_id, user_id,
           concat(CASE CAST(user_id % 3 AS INTEGER)
                    WHEN 0 THEN '11111111-0000-0000-0000-000000000000'
                    WHEN 1 THEN '22222222-0000-0000-0000-000000000000'
                    ELSE '33333333-0000-0000-0000-000000000000' END,
                  ':', CAST(event_id AS VARCHAR)) AS pos
    FROM events
    WHERE NOT (CASE CAST(user_id % 3 AS INTEGER)
                 WHEN 0 THEN event_id BETWEEN 1 AND 2000
                 WHEN 1 THEN event_id BETWEEN 500 AND 1500
                              OR event_id BETWEEN 3000 AND 4000
                 ELSE FALSE END)
    """,
)
def gtid_covers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-UUID handoff filter (A17's covers() as an event-dedup
    predicate): keep only events NOT already covered by the snapshot's
    GTID set — positions are ``uuid:gno`` with no total order across
    UUIDs, so plain ``pos > threshold`` cannot express this.

    Arrow-batched pandas UDF (GtidSet rebuilt once per batch, interval
    lookups in-process); the oracle replays the same interval logic in
    SQL. At scale the predicate is a map-side filter — no shuffle."""
    from ..functions.gtid import GtidSet, gtid_covers_column

    gs = GtidSet({u: list(rs) for u, rs in _GTID_RANGES.items()})
    ev = load(spark, sf_dir, "events")
    uuids = sorted(_GTID_RANGES) + ["33333333-0000-0000-0000-000000000000"]
    uuid_col = F.element_at(
        F.array(*[F.lit(u) for u in uuids]), (F.col("user_id") % 3 + 1).cast("int")
    )
    pos = F.concat(uuid_col, F.lit(":"), F.col("event_id").cast("string"))
    return (
        ev.select("event_id", "user_id", pos.alias("pos"))
        .filter(~gtid_covers_column(F.col("pos"), gs.to_json()))
    )


@query(
    "snapshot_envelope",
    oracle="""
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT 'create_table' AS op
        UNION ALL SELECT 'end'
        UNION ALL SELECT 'insert' FROM region
    )
    GROUP BY op
    """,
)
def snapshot_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capture layer through the driver contract: run the per-table
    snapshot pipeline (A11) on `region` and count envelope rows by op —
    one create_table control, one insert per row, one end marker
    (`internal/cannal/fullamount_event.go:24-83`)."""
    from ..sources.snapshot import ParquetSnapshotSource, snapshot_table

    src = ParquetSnapshotSource(
        spark, sf_dir, primary_keys={"region": ["r_regionkey"]}
    )
    snap = snapshot_table(src, "ds1", "main", "region")
    return snap.events.groupBy("op").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# SCD2 history materialization: every change becomes a VERSIONED row
# with a validity interval — the lakehouse pattern for "what did this
# row look like at time T". The reference materializes only current
# state (cdc_latest's semantics); SCD2 is the other standard target
# mode, derivable from the same ordered change stream.
# ---------------------------------------------------------------------------


@query(
    "cdc_scd2",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type, value,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM events
    ), vers AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        FROM seq WHERE event_type <> 'error'
    )
    SELECT user_id, CAST(version AS INT) AS version, ts AS valid_from, valid_to,
           event_type AS attr_type, value AS attr_value,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM vers
    """,
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from the change stream: each
    non-tombstone event opens a version valid from its own timestamp
    until the NEXT event of the key (tombstones close the prior
    interval without opening one — a key whose last event is a delete
    has no current row). ``is_current`` marks open intervals.

    Plan shape: two window passes over the same (user_id) partitioning
    — lead() runs over ALL events (so a tombstone can close an
    interval), row_number() over the surviving versions; Spark reuses
    one exchange for both since the partition key is identical. One
    shuffle total, keyed by the entity id."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("valid_to", F.lead("ts").over(w))
    vers = (
        seq.filter(F.col("event_type") != "error")
        .withColumn("version", F.row_number().over(w))
    )
    return vers.select(
        "user_id",
        F.col("version").cast("int").alias("version"),
        F.col("ts").alias("valid_from"),
        "valid_to",
        F.col("event_type").alias("attr_type"),
        F.col("value").alias("attr_value"),
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
    )


SCD2_ASOF_TS = "2024-01-15 00:00:00"


@query(
    "cdc_scd2_asof",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type, value,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM events
    )
    SELECT user_id, ts AS valid_from, valid_to,
           event_type AS attr_type, value AS attr_value
    FROM seq
    WHERE event_type <> 'error'
      AND ts <= TIMESTAMP '{SCD2_ASOF_TS}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{SCD2_ASOF_TS}')
    """,
)
def cdc_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time travel) lookup over the SCD2 history: the
    row version of every entity that was live AT the probe timestamp —
    interval containment over the validity ranges cdc_scd2 derives.
    Note a tombstoned-at-T entity correctly vanishes: its last interval
    closed before T.

    Scale shape: same single entity-keyed window shuffle as cdc_scd2;
    the containment predicate is a post-window filter. Against a
    MATERIALIZED scd2 table this becomes a pure scan filter — and with
    the table partitioned on date_trunc(valid_from), partition pruning
    bounds it further."""
    ev = load(spark, sf_dir, "events")
    t = F.lit(SCD2_ASOF_TS).cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("valid_to", F.lead("ts").over(w))
    return (
        seq.filter(F.col("event_type") != "error")
        .filter((F.col("ts") <= t) & (F.col("valid_to").isNull() | (F.col("valid_to") > t)))
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("event_type").alias("attr_type"),
            F.col("value").alias("attr_value"),
        )
    )


# ---------------------------------------------------------------------------
# Replication reconciliation: the operational pair every CDC deployment
# ends up needing — "did the replica drift?" answered cheaply
# (bucketed checksums, pt-table-checksum style) and precisely
# (row-level diff classification). The reference ships neither; its
# users run pt-table-checksum by hand.
# ---------------------------------------------------------------------------

_RECON_BUCKETS = 16  # first md5 nibble of the PK
# row representation: every column cast to string, NULL-safe, joined
# with a separator that cannot appear in the data
_RECON_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _row_repr_spark() -> Column:
    return F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in _RECON_COLS]
    )


_ROW_REPR_SQL = "concat_ws('|', " + ", ".join(
    f"COALESCE(CAST({c} AS VARCHAR), '\\N')" for c in _RECON_COLS
) + ")"

@query(
    "table_checksum",
    oracle=f"""
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(digest) AS BIGINT) AS checksum
    FROM (
        SELECT CAST(strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1 AS INT) AS bucket,
               CAST(('0x' || substring(md5({_ROW_REPR_SQL}), 1, 15)) AS BIGINT) AS digest
        FROM customer
    )
    GROUP BY bucket
    """,
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table checksum (pt-table-checksum's shape, engine-
    portable): md5 row digests XOR-folded per PK-hash bucket. XOR is
    commutative, so the aggregation is order-independent WITHOUT any
    float caveats, and map-side partials apply. Comparing source and
    replica checksums moves {_RECON_BUCKETS} rows per table instead of
    the table; a mismatched bucket scopes the expensive row-level diff
    (table_diff) to 1/{_RECON_BUCKETS} of the keys (raise the bucket
    count with table size — it is just more md5 nibbles).

    Scale shape: one scan + one {_RECON_BUCKETS}-group aggregate;
    the shuffle carries a handful of partial rows per partition."""
    cust = load(spark, sf_dir, "customer")
    bucket = (
        (F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1), 16, 10))
        .cast("int")
        .alias("bucket")
    )
    digest = F.conv(F.substring(F.md5(_row_repr_spark()), 1, 15), 16, 10).cast("long")
    return (
        cust.select(bucket, digest.alias("digest"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("digest").alias("checksum"),
        )
    )


@query(
    "table_diff",
    oracle="""
    WITH target AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 50 = 0 THEN c_name || '_drift' ELSE c_name END AS c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer
        WHERE c_custkey % 97 <> 0
    )
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN t.c_custkey IS NULL THEN 'missing_in_target'
                WHEN s.c_custkey IS NULL THEN 'extra_in_target'
                ELSE 'changed' END AS diff_kind
    FROM customer s
    FULL OUTER JOIN target t ON s.c_custkey = t.c_custkey
    WHERE t.c_custkey IS NULL OR s.c_custkey IS NULL
       OR s.c_name <> t.c_name OR s.c_nationkey <> t.c_nationkey
       OR s.c_acctbal <> t.c_acctbal OR s.c_mktsegment <> t.c_mktsegment
    """,
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level source/replica diff: full outer join on the PK,
    classify missing / extra / changed. The demo target derives from
    the source with injected drift (dropped keys, mutated names) so
    the operator exercises all three classes deterministically.

    Scale shape: one PK-keyed shuffle join; in production, run it only
    on the buckets table_checksum flagged, which prunes both scans by
    the PK-hash predicate pushed into parquet."""
    src = load(spark, sf_dir, "customer")
    tgt = (
        src.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_name",
            F.when(
                F.col("c_custkey") % 50 == 0, F.concat(F.col("c_name"), F.lit("_drift"))
            ).otherwise(F.col("c_name")),
        )
    )
    s = src.select(*[F.col(c).alias(f"s_{c}") for c in _RECON_COLS])
    t = tgt.select(*[F.col(c).alias(f"t_{c}") for c in _RECON_COLS])
    joined = s.join(t, s.s_c_custkey == t.t_c_custkey, "full_outer")
    changed = (
        (F.col("s_c_name") != F.col("t_c_name"))
        | (F.col("s_c_nationkey") != F.col("t_c_nationkey"))
        | (F.col("s_c_acctbal") != F.col("t_c_acctbal"))
        | (F.col("s_c_mktsegment") != F.col("t_c_mktsegment"))
    )
    return (
        joined.filter(
            F.col("t_c_custkey").isNull() | F.col("s_c_custkey").isNull() | changed
        )
        .select(
            F.coalesce("s_c_custkey", "t_c_custkey").alias("c_custkey"),
            F.when(F.col("t_c_custkey").isNull(), "missing_in_target")
            .when(F.col("s_c_custkey").isNull(), "extra_in_target")
            .otherwise("changed")
            .alias("diff_kind"),
        )
    )
