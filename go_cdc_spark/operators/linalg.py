"""Distributed linear algebra over the embedding column: exact Gram /
covariance matrices and power-iteration PCA — the building blocks of
embedding whitening, linear probes, and dimensionality analysis.

The Gram/covariance computation is THE scalable pattern for
vector-corpus linear algebra: one pass over the corpus accumulates
dim² partial sums (map-side partials bound the exchange at dim²×
partitions regardless of corpus size), and everything downstream —
centering, power iteration, Rayleigh quotients — operates on the
dim²-row matrix relation, never the corpus. At 100 TB the corpus scan
is the only data-proportional stage.

Cross-engine exactness: element products are IEEE doubles (float32
inputs widen exactly; the multiply is correctly rounded identically in
both engines), accumulated through TIE-FREE fixed-point quantization:
floor(x·1e12) summed as exact BIGINTs (the sim_pq_codes/DSIR pattern).
Decimal HALF_UP casts are NOT safe here — measured: one fixture dim's
element sum lands exactly on a 5e-13 tie and Spark/DuckDB break it
differently; floor has no ties. The BIGINT sum bound is ~9e18/1e12 ≈
9e6 in value units per group — beyond that (≈1e9 unit-scale rows per
dim pair) swap the accumulator to DECIMAL(38,0), as documented for
DSIR. Centering and power-iteration arithmetic is the same double
expression tree on both sides, and sqrt() is correctly rounded by
IEEE 754 in both engines (unlike ln — see the verify notes), so even
the normalized eigenvector hash-matches bit-exactly.

Parity note: derived analytic surface (SURVEY.md §2.B); the reference
(go-cdc) has no vector surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..tables import load

_DIM = 64  # embeddings fixture dimension (similarity.DIM)
_POWER_ROUNDS = 3  # unrolled power-iteration rounds (one plan, no loop)

# tie-free exact accumulation: floor-quantize each term to 1e-12 (no
# rounding ties, unlike decimal HALF_UP), sum as exact BIGINTs, divide
# back once — long->double casts are correctly rounded in both engines
_Q = 1_000_000_000_000.0
_SQL_PSUM = (
    "(CAST(CAST(SUM(CAST(floor(({x}) * 1000000000000.0) AS BIGINT)) AS BIGINT)"
    " AS DOUBLE) / 1000000000000.0)"
)


def _psum(col):
    """Spark twin of _SQL_PSUM."""
    return F.sum(F.floor(col * F.lit(_Q)).cast("long")).cast("double") / F.lit(_Q)


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, i, v): one row per vector element, 1-based dims,
    elements widened to double (exact for float32 inputs)."""
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("i"),
            F.col("val").cast("double").alias("v"),
        )
    )


_COV_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, d.i, CAST(embedding[d.i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {_DIM} + 1)) AS i) d
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
m AS (
  SELECT i, {_SQL_PSUM.format(x="v")} AS sx FROM ex GROUP BY i
),
g AS (
  SELECT a.i AS i, b.i AS j,
         {_SQL_PSUM.format(x="a.v * b.v")} AS sxy
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(g.i AS INTEGER) AS i, CAST(g.j AS INTEGER) AS j, n.n,
       g.sxy / CAST(n.n AS DOUBLE) AS gram,
       g.sxy / CAST(n.n AS DOUBLE)
         - (mi.sx / CAST(n.n AS DOUBLE)) * (mj.sx / CAST(n.n AS DOUBLE)) AS cov
FROM g
JOIN m mi ON mi.i = g.i
JOIN m mj ON mj.i = g.j
CROSS JOIN n
ORDER BY i, j
"""


@query("embed_covariance", oracle=_COV_ORACLE)
def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram and covariance matrices of the embedding
    corpus in long form (i ≤ j, {_DIM}·({_DIM}+1)/2 rows): gram =
    E[x_i·x_j], cov = gram − E[x_i]E[x_j] — the input to whitening /
    PCA / linear probes.

    Scale shape: the element self-join blows each vector up to dim²/2
    product rows, but the aggregation folds them map-side, so the
    exchange carries at most dim²×partitions partial sums — corpus
    size never crosses the wire. The mean join afterwards touches
    dim-row relations only."""
    ex = _exploded(spark, sf_dir)
    n = load(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = ex.groupBy("i").agg(_psum(F.col("v")).alias("sx"))
    a, b = ex.alias("a"), ex.alias("b")
    g = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(_psum(F.col("a.v") * F.col("b.v")).alias("sxy"))
    )
    mi = m.select(F.col("i").alias("_mi"), F.col("sx").alias("sx_i"))
    mj = m.select(F.col("i").alias("_mj"), F.col("sx").alias("sx_j"))
    nd = F.col("n").cast("double")
    return (
        g.join(F.broadcast(mi), F.col("i") == F.col("_mi"))
        .join(F.broadcast(mj), F.col("j") == F.col("_mj"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "n",
            (F.col("sxy") / nd).alias("gram"),
            (
                F.col("sxy") / nd
                - (F.col("sx_i") / nd) * (F.col("sx_j") / nd)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def _power_oracle() -> str:
    """Unrolled {_POWER_ROUNDS}-round power iteration over the exact
    covariance matrix as chained CTEs (the pagerank pattern)."""
    head = f"""
WITH ex AS (
  SELECT vec_id, d.i, CAST(embedding[d.i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {_DIM} + 1)) AS i) d
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
m AS (SELECT i, {_SQL_PSUM.format(x="v")} AS sx FROM ex GROUP BY i),
g AS (
  SELECT a.i AS i, b.i AS j, {_SQL_PSUM.format(x="a.v * b.v")} AS sxy
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
cfull AS (
  SELECT g.i, g.j,
         g.sxy / CAST(n.n AS DOUBLE)
           - (mi.sx / CAST(n.n AS DOUBLE)) * (mj.sx / CAST(n.n AS DOUBLE)) AS c
  FROM g JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j CROSS JOIN n
  UNION ALL
  SELECT g.j, g.i,
         g.sxy / CAST(n.n AS DOUBLE)
           - (mi.sx / CAST(n.n AS DOUBLE)) * (mj.sx / CAST(n.n AS DOUBLE))
  FROM g JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j CROSS JOIN n
  WHERE g.i < g.j
),
v0 AS (SELECT unnest(range(1, {_DIM} + 1)) AS i, 1.0 AS x)
"""
    its = []
    for r in range(1, _POWER_ROUNDS + 1):
        prev = f"v{r - 1}"
        psum = _SQL_PSUM.format(x="c.c * p.x")
        its.append(f""",
w{r} AS (
  SELECT c.i, {psum} AS y
  FROM cfull c JOIN {prev} p ON c.j = p.i
  GROUP BY c.i
),
nrm{r} AS (SELECT sqrt({_SQL_PSUM.format(x="y * y")}) AS nm FROM w{r}),
v{r} AS (SELECT w.i, w.y / nrm{r}.nm AS x FROM w{r} w CROSS JOIN nrm{r})
""")
    tail = f"""
, ray AS (
  SELECT {_SQL_PSUM.format(x="c.c * a.x * b.x")} AS lam
  FROM cfull c
  JOIN v{_POWER_ROUNDS} a ON a.i = c.i
  JOIN v{_POWER_ROUNDS} b ON b.i = c.j
)
SELECT CAST(v.i AS INTEGER) AS i, v.x AS component, ray.lam AS eigenvalue
FROM v{_POWER_ROUNDS} v CROSS JOIN ray
ORDER BY i
"""
    return head + "".join(its) + tail


@query("embed_pca_power", oracle=_power_oracle())
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by
    {_POWER_ROUNDS} unrolled power-iteration rounds over the exact
    covariance matrix, with the Rayleigh-quotient eigenvalue — the
    first step of PCA/whitening, entirely in-engine.

    Scale shape: the corpus contributes ONE Gram pass (map-side
    partials, see embed_covariance); every iteration is a join of the
    dim²-row matrix against the dim-row vector with decimal-exact
    accumulation — matrix-sized work, corpus-free. The matrix relation
    feeds all {_POWER_ROUNDS} rounds plus the Rayleigh quotient, so it
    is lazily pinned (the bfs/sssp multi-consumer pattern).

    Exactness: the iteration normalizes by sqrt (correctly rounded
    IEEE both engines) and every sum is decimal-accumulated, so after
    {_POWER_ROUNDS} rounds both engines hold the bit-identical vector.
    Note power iteration converges to the DOMINANT eigenvector
    regardless of the (symmetric, deterministic) start; 3 unrolled
    rounds match the oracle exactly by construction even before
    convergence, the same contract as pagerank/k-core."""
    # r14: the iteration is matrix-sized (dim² = {_DIM}² entries), so
    # the {_POWER_ROUNDS} join+aggregate+normalize rounds + Rayleigh
    # quotient — ~15 tiny serial jobs/stages — collapse into ONE fold
    # expression over the collected-into-one-row matrix array (the
    # sim_mmr bounded-loop pattern, guide §2.6). Arithmetic is
    # IDENTICAL: each Σ is the same floor(x·1e12)→BIGINT exact
    # accumulation (long addition is order-free), the same final
    # double cast and /1e12, the same multiply/divide tree — results
    # are bit-equal and the oracle is unchanged. The corpus still
    # contributes only the one Gram pass inside embed_covariance.
    from .similarity import _let

    cov = embed_covariance(spark, sf_dir)
    up = cov.select("i", "j", F.col("cov").alias("c"))
    low = cov.filter(F.col("i") < F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov").alias("c")
    )
    cfull = up.unionByName(low)
    # one row: all dim² (i, j, c) entries in (i, j) order — index of
    # (i, j) in the sorted array is (i-1)·dim + j
    mrow = cfull.agg(
        F.array_sort(F.collect_list(F.struct("i", "j", "c"))).alias("m")
    )
    seq_d = F.sequence(F.lit(1), F.lit(_DIM))

    def fold_psum(term_fn, seq):
        # fold twin of _psum: Σ floor(term·1e12) as exact longs, one
        # double cast, one /1e12 — same ops, same bits
        return F.aggregate(
            seq,
            F.lit(0).cast("long"),
            lambda acc, j: acc + F.floor(term_fn(j) * F.lit(_Q)).cast("long"),
        ).cast("double") / F.lit(_Q)

    def one_round(mm, xarr):
        # LET-bind the incoming vector FIRST: without it the previous
        # round's whole expression tree would be inlined into every
        # one of the dim² term lambdas below (tree size ~dim²^rounds —
        # plan construction alone never terminates)
        def body(xa):
            y = F.transform(
                seq_d,
                lambda i: fold_psum(
                    lambda j: F.element_at(mm, ((i - 1) * _DIM + j).cast("int"))["c"]
                    * F.element_at(xa, j.cast("int")),
                    seq_d,
                ),
            )
            return _let(
                y,
                lambda yy: _let(
                    F.sqrt(
                        fold_psum(
                            lambda j: F.element_at(yy, j.cast("int"))
                            * F.element_at(yy, j.cast("int")),
                            seq_d,
                        )
                    ),
                    lambda nm: F.transform(yy, lambda e: e / nm),
                ),
            )

        return _let(xarr, body)

    def ray_fold(mm, xf):
        seq_m = F.sequence(F.lit(1), F.lit(_DIM * _DIM))
        return fold_psum(
            lambda k: _let(
                F.element_at(mm, k.cast("int")),
                lambda e: e["c"]
                * F.element_at(xf, e["i"])
                * F.element_at(xf, e["j"]),
            ),
            seq_m,
        )

    def final_struct(mm):
        x = F.array_repeat(F.lit(1.0), _DIM)
        for _ in range(_POWER_ROUNDS):
            x = one_round(mm, x)
        return _let(
            x, lambda xf: F.struct(xf.alias("xf"), ray_fold(mm, xf).alias("lam"))
        )

    # the fold indexes entries positionally: a missing or duplicated
    # (i, j) entry would silently shift every later coordinate
    m = F.col("m")
    m_checked = F.coalesce(
        F.assert_true(
            F.size(m) == F.lit(_DIM * _DIM), "covariance matrix is not DIM*DIM"
        ),
        m,
    )
    row = mrow.select(_let(m_checked, final_struct).alias("r"))
    return (
        row.select(F.posexplode(F.col("r.xf")).alias("i0", "component"), "r.lam")
        .select(
            (F.col("i0") + 1).cast("int").alias("i"),
            "component",
            F.col("lam").alias("eigenvalue"),
        )
        .orderBy("i")
    )


_WHITEN_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, d.i, CAST(embedding[d.i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {_DIM} + 1)) AS i) d
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
s AS (
  SELECT i, {_SQL_PSUM.format(x="v")} AS sx, {_SQL_PSUM.format(x="v * v")} AS sxx
  FROM ex GROUP BY i
),
st AS (
  SELECT s.i, s.sx / CAST(n.n AS DOUBLE) AS mu,
         sqrt(s.sxx / CAST(n.n AS DOUBLE)
              - (s.sx / CAST(n.n AS DOUBLE)) * (s.sx / CAST(n.n AS DOUBLE)))
           AS sigma
  FROM s CROSS JOIN n
)
SELECT ex.vec_id, CAST(ex.i AS INTEGER) AS i,
       CASE WHEN st.sigma > 0.0 THEN (ex.v - st.mu) / st.sigma ELSE 0.0 END
         AS white
FROM ex JOIN st ON st.i = ex.i
ORDER BY ex.vec_id, i
"""


@query("embed_whiten", oracle=_WHITEN_ORACLE)
def embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal whitening of the embedding corpus: per-dimension
    standardization (x−μ)/σ with population σ from exact one-pass
    sums — the transform step the covariance statistics feed (full
    PCA whitening composes this with embed_pca_power's rotation).
    Constant dimensions (σ = 0) map to 0 instead of dividing by zero.

    Scale shape: ONE corpus pass folds per-dim Σx and Σx² map-side
    (dim-sized exchange), the dim-row stats broadcast back onto the
    element stream, and the transform itself is a pure map — no
    corpus shuffle anywhere. Output is the long element form (the
    nested-array note on embed_rp_reduce applies: arrays are not
    hash-comparable cross-engine)."""
    ex = _exploded(spark, sf_dir)
    n = load(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = ex.groupBy("i").agg(
        _psum(F.col("v")).alias("sx"),
        _psum(F.col("v") * F.col("v")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("sx") / nd
    st = s.crossJoin(F.broadcast(n)).select(
        F.col("i").alias("_si"),
        mu.alias("mu"),
        F.sqrt(F.col("sxx") / nd - mu * mu).alias("sigma"),
    )
    return (
        ex.join(F.broadcast(st), F.col("i") == F.col("_si"))
        .select(
            "vec_id",
            F.col("i").cast("int").alias("i"),
            F.when(
                F.col("sigma") > 0.0,
                (F.col("v") - F.col("mu")) / F.col("sigma"),
            )
            .otherwise(F.lit(0.0))
            .alias("white"),
        )
        .orderBy("vec_id", "i")
    )
