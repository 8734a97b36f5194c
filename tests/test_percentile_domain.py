"""domain_percentiles must be BIT-equal to Spark's exact ``percentile``
aggregate — the r14 rewrite replaces the built-in in three registered,
hash-checked queries, so equality here has to hold at the double level,
including the interpolation branches (integral position, equal
bracketing keys, duplicate values)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from go_cdc_spark.operators._percentile import domain_percentiles

PCTS = [0.0, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0]


def _check(spark, rows, pcts=PCTS):
    df = spark.createDataFrame(rows, "g string, v double")
    names = [f"p{i}" for i in range(len(pcts))]
    got = {
        r["g"]: [r[n] for n in names]
        for r in domain_percentiles(df, ["g"], "v", pcts, names).collect()
    }
    arr = ", ".join(str(p) for p in pcts)
    want = {
        r["g"]: list(r["q"])
        for r in df.groupBy("g")
        .agg(F.expr(f"percentile(v, array({arr}))").alias("q"))
        .collect()
    }
    assert got.keys() == want.keys()
    for g in want:
        for a, b in zip(got[g], want[g]):
            # bit equality, not approx: the rewrite feeds hash-checked queries
            assert math.isclose(a, b, rel_tol=0.0, abs_tol=0.0), (g, got[g], want[g])


def test_matches_builtin_random(spark):
    rng = random.Random(42)
    rows = [
        (f"g{rng.randrange(3)}", round(rng.uniform(-1000, 1000), rng.randrange(6)))
        for _ in range(5000)
    ]
    _check(spark, rows)


def test_matches_builtin_duplicates_and_ties(spark):
    rng = random.Random(7)
    # heavy duplication: few distinct values => bracketing keys often equal
    rows = [(f"g{rng.randrange(2)}", float(rng.randrange(7))) for _ in range(999)]
    _check(spark, rows)


def test_matches_builtin_tiny_groups(spark):
    rows = [("a", 1.0), ("b", 3.0), ("b", -2.5), ("c", 0.0), ("c", 0.0), ("c", 5.0)]
    _check(spark, rows)


def test_matches_builtin_integral_positions(spark):
    # n = 5, p = 0.25 => pos = 1.0 exactly (higher == lower branch)
    rows = [("a", float(x)) for x in [10, 20, 30, 40, 50]]
    _check(spark, rows, pcts=[0.25, 0.5, 0.75])


def test_keep_n_is_group_count(spark):
    rows = [("a", 1.0)] * 3 + [("b", 2.0)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r["n"]
        for r in domain_percentiles(
            df, ["g"], "v", [0.5], ["p50"], keep_n="n"
        ).collect()
    }
    assert out == {"a": 3, "b": 5}


@pytest.mark.parametrize("p", [0.5, 0.9])
def test_matches_builtin_adversarial_doubles(spark, p):
    # values whose interpolation is sensitive to operand order / rounding
    vals = [1e-17, 1.0, 1.0 + 2**-52, 3.141592653589793, 1e17, -1e17, 0.1, 0.2]
    rows = [("a", v) for v in vals]
    _check(spark, rows, pcts=[p])


def test_null_value_fails_loudly(spark):
    # the precondition is enforced, not silently filtered: an all-NULL
    # group would otherwise vanish where the built-in emits (g, NULL)
    df = spark.createDataFrame([("a", 1.0), ("b", None)], "g string, v double")
    with pytest.raises(Exception, match="domain_percentiles: NULL value"):
        domain_percentiles(df, ["g"], "v", [0.5], ["p50"]).collect()
