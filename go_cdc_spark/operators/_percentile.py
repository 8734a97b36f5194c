"""Exact interpolated percentiles via a distinct-value domain shuffle.

Spark's built-in exact ``percentile`` is a TypedImperativeAggregate: each
partial buffers a value->count map and the per-group MERGE happens on one
reducer per group, holding the whole group's value domain in one buffer
(3-5 groups => 3-5 effective reducers and unbounded per-group memory at
100 TB).  This module reproduces its result bit-for-bit with relational
operators only (the ``agg_weighted_median`` domain-shuffle pattern):

1. pre-aggregate ``count`` per (group, value) with map-side combine --
   the only shuffle over row-count-scale data is keyed (group, value),
   so it spreads over the value domain instead of 3-5 groups;
2. one cumulative-count window over the DISTINCT-VALUE relation
   (bounded by the domain, not the row count, and it spills gracefully
   where the aggregate buffer cannot);
3. per percentage p, pick the two bracketing order statistics and apply
   exactly the interpolation Spark's ``Percentile.getPercentile`` uses::

       pos    = p * (N - 1)                  # 0-based rank, double
       lower  = floor(pos); higher = ceil(pos)       # longs
       result = lowerKey                        if higher == lower
              = lowerKey                        if higherKey == lowerKey
              = (higher - pos) * lowerKey + (pos - lower) * higherKey

   ``lowerKey`` is the value whose 0-based rank range [cw - cnt, cw - 1]
   contains ``lower`` (``cw`` = cumulative count through the value) --
   the same selection Percentile's binary search over accumulated
   counts performs.  All arithmetic is the identical double expression
   tree (long->double conversions are exact below 2^53), so results
   hash-match the built-in and the DuckDB ``quantile_cont`` oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def domain_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column | str,
    pcts: Sequence[float],
    names: Sequence[str],
    keep_n: str | None = None,
) -> DataFrame:
    """One row per group: ``group_cols`` + one exact percentile column
    per (p, name) pair, bit-equal to ``F.percentile(value, lit(p))``.

    ``keep_n`` additionally emits the group row count (== ``count(*)``
    over the input rows, recovered for free from the domain relation)
    as a LONG column of that name, placed right after ``group_cols``.

    Precondition: ``value`` must be non-null on every input row (all
    call sites guarantee it). The pre-aggregate enforces it: a NULL
    value fails the query. Dropping NULLs instead would make a group
    whose EVERY value is NULL vanish where the built-in emits
    (group, NULL), and ``keep_n`` would count only non-null rows.
    """
    g = list(group_cols)
    vcol = F.col(value) if isinstance(value, str) else value
    checked = F.coalesce(
        vcol, F.raise_error(F.lit("domain_percentiles: NULL value"))
    )
    byval = df.groupBy(*g, checked.alias("_v")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_ord = (
        Window.partitionBy(*g)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*g)
    c = byval.select(
        *g,
        "_v",
        "_cnt",
        F.sum("_cnt").over(w_ord).alias("_cw"),
        F.sum("_cnt").over(w_all).alias("_n"),
    )
    n, cw, cnt, v = F.col("_n"), F.col("_cw"), F.col("_cnt"), F.col("_v")
    aggs: list[Column] = [F.max("_n").alias("_n")]
    for i, p in enumerate(pcts):
        pos = F.lit(float(p)) * (n - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        # rank range of value v is [cw - cnt, cw - 1]; exactly one row
        # per group satisfies each containment, so max() just unwraps it.
        aggs.append(
            F.max(F.when((cw > lower) & ((cw - cnt) <= lower), v)).alias(f"_lo{i}")
        )
        aggs.append(
            F.max(F.when((cw > higher) & ((cw - cnt) <= higher), v)).alias(f"_hi{i}")
        )
    out = c.groupBy(*g).agg(*aggs)
    cols: list[Column | str] = list(g)
    n_out = F.col("_n")
    if keep_n is not None:
        cols.append(n_out.cast("long").alias(keep_n))
    for i, (p, name) in enumerate(zip(pcts, names)):
        pos = F.lit(float(p)) * (n_out - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        lo, hi = F.col(f"_lo{i}"), F.col(f"_hi{i}")
        interp = (higher.cast("double") - pos) * lo + (pos - lower.cast("double")) * hi
        cols.append(
            F.when(higher == lower, lo).when(hi == lo, lo).otherwise(interp).alias(name)
        )
    return out.select(*cols)
