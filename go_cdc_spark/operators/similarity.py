"""Similarity search over the ``embeddings`` table (`vec_id`,
``embedding: array<float>[64]``, ``label``).

Three tiers, each a `queries()` entry with a bit-exact DuckDB oracle:

- **brute-force cosine top-k** (`sim_topk`) — the exactness baseline:
  broadcast the (small) query set, compute cosine map-side against every
  candidate, window top-k per query. At 100 TB the scan side stays
  embarrassingly parallel; the only shuffle is the top-k window keyed by
  query_id (bounded by |queries| × |candidates-per-partition| after a
  partial top-k — see note in sim_topk).
- **LSH-bucketed ANN** (`sim_lsh_ann`) — the scale path: sign-random-
  projection buckets (deterministic seeded hyperplanes), candidates
  restricted to the query's bucket. Signature computation is map-side;
  the bucket equi-join is the only shuffle and its fan-out is bounded by
  bucket occupancy, not |vectors|². Hot buckets → salting or more bits.
- **IVF probe** (`sim_ivf`) — coarse-quantizer variant: fixed centroid
  set (deterministic), every vector assigned to its nearest centroid
  map-side (the centroid table is broadcast); a query probes only its
  own cell. nprobe=1 here; scale knob is (n_centroids, nprobe).

Plus **embedding-cosine near-dup** (`dedup_embedding_cosine`): multi-
table LSH blocking with occupancy-adaptive bits (E2LSH-style (b, L)
scaling — see _nd_knobs) and exact cosine verification — the vector
analog of MinHash band blocking (see operators/dedup.py).

Float determinism: cosine is computed in DOUBLE with a left-fold over
the zipped arrays in BOTH engines (Spark ``aggregate(zip_with(...))``,
DuckDB ``list_reduce(list_transform(...))``), so the result is
bit-identical (IEEE754 ops in identical order) and safe for the
driver's value-hash compare — verified empirically.

Capability parity note: the reference (raito-cn/go-cdc) has no vector
ops at all; this module is part of the LLM-data-pipeline surface the
north star adds on top (repo:BASELINE.json).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..tables import fan_out, load

DIM = 64
N_QUERIES = 8  # query set = vec_id < 8 (deterministic, tiny → broadcast)
TOP_K = 5
N_BITS = 4  # LSH hyperplanes → 2^4 buckets
N_CENTROIDS = 8  # IVF coarse quantizer size (centroid = vec_id < 8)
NEAR_DUP_COS = 0.8

# Deterministic hyperplanes (RandomState stream is stable across numpy
# versions/platforms); embedded as literals in both engines.
_HYPERPLANES: list[list[float]] = (
    np.random.RandomState(7).standard_normal((N_BITS, DIM)).tolist()
)


def dot_col(a: Column | str, b: Column | str) -> Column:
    """Left-fold double-precision dot product — bit-identical to the
    DuckDB form in :func:`_sql_dot` (same op order, IEEE754).

    Measured r5: this higher-order-function fold BEATS a fully
    unrolled 64-term ``element_at(a,i)*element_at(b,i)`` expression
    chain 2.2× (0.70s vs 1.58s, 5k×32 cosines at sf0.1, min-of-3
    interleaved) — the unrolled tree blows past codegen limits while
    Spark 4's HOF evaluation is array-local. Keep the fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a: Column | str, b: Column | str) -> Column:
    return dot_col(a, b) / (F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b)))


def norm_col(vec: Column | str) -> Column:
    """sqrt(v·v) — precompute ONCE per vector (map-side) so each
    candidate pair evaluates one fold (the cross dot product) instead
    of three. Bit-identical to the inline form: same values feed the
    same multiply-then-divide, so oracle hashes are unchanged."""
    return F.sqrt(dot_col(vec, vec))


def cosine_from(dot: Column, na: Column | str, nb: Column | str) -> Column:
    """cos = dot / (‖a‖·‖b‖) from precomputed norms — the pair-time
    half of :func:`norm_col`'s split."""
    if isinstance(na, str):
        na = F.col(na)
    if isinstance(nb, str):
        nb = F.col(nb)
    return dot / (na * nb)


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"


# Imported AFTER the cosine helpers on purpose: dedup's module-level
# oracle build imports curation, which imports the helpers above from
# this (then partially initialized) module. With the import up top,
# `import go_cdc_spark.operators.similarity` as the FIRST package
# touch dies in the cycle (measured: every direct-import tool hit it);
# here, everything curation needs is already bound.
from .dedup import BUCKET_PAIR_CAP as _BUCKET_PAIR_CAP  # noqa: E402



def _sql_cosine_safe(a: str, b: str) -> str:
    """_sql_cosine with a zero-norm guard: a zero residual (candidate
    exactly equal to its coarse centroid — guaranteed to exist in any
    corpus with duplicated vectors) has no cosine; 0/0 is an ANSI error
    in Spark and a NaN with engine-specific ordering in DuckDB. Map it
    to -2.0 (below every real cosine) so assignment falls through to
    the deterministic code_id tie-break identically in both engines."""
    return (
        f"(CASE WHEN sqrt({_sql_dot(a, a)}) > 0.0 AND sqrt({_sql_dot(b, b)}) > 0.0 "
        f"THEN {_sql_cosine(a, b)} ELSE -2.0 END)"
    )


def cosine_from_safe(dot: Column, na: Column | str, nb: Column | str) -> Column:
    """Spark twin of _sql_cosine_safe over precomputed norms."""
    if isinstance(na, str):
        na = F.col(na)
    if isinstance(nb, str):
        nb = F.col(nb)
    return F.when((na > 0.0) & (nb > 0.0), dot / (na * nb)).otherwise(F.lit(-2.0))


def safe_norm(norm: Column) -> Column:
    """NULL-when-zero guard applied ONCE at the vector relation (per
    row, not per scored pair): a zero norm becomes NULL, the pair-time
    division then propagates NULL instead of erroring under ANSI, and
    :func:`cosine_from_cguard` folds it to the -2.0 sentinel. This is
    the cheap form of the zero-reconstruction guard — the per-pair CASE
    of cosine_from_safe measured ~1.5x on sim_ivf_pq's scoring fold."""
    return F.when(norm > 0.0, norm)


def cosine_from_cguard(dot: Column, na: Column | str, nb: Column | str) -> Column:
    """Cosine over norms where the CANDIDATE side was pre-guarded with
    :func:`safe_norm` (NULL when zero): NULL propagates through the
    product and division, COALESCE maps it to -2.0 — below every real
    cosine, so ordering falls through to the cand_id tie-break. Twin of
    ``_sql_cosine_cguard``. Identical double ops to cosine_from on the
    non-degenerate path (same product, same division)."""
    if isinstance(na, str):
        na = F.col(na)
    if isinstance(nb, str):
        nb = F.col(nb)
    return F.coalesce(dot / (na * nb), F.lit(-2.0))


def _sql_cosine_cguard(a: str, b: str) -> str:
    """SQL twin of safe_norm + cosine_from_cguard: NULLIF guards the
    candidate norm, COALESCE folds the propagated NULL to -2.0."""
    return (
        f"COALESCE({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) "
        f"* NULLIF(sqrt({_sql_dot(b, b)}), 0.0)), -2.0)"
    )


# ---------------------------------------------------------------------------
# Map-side argmax over a broadcast candidate array (r13 optimization).
#
# The classic "assign each vector to its nearest centroid/codeword"
# step was expressed as crossJoin(broadcast cands) + row_number() over
# Window(partitionBy vector) — which SHUFFLES |cands|×N rows (each
# carrying the full embedding AND the candidate array) and sorts them,
# just to pick a per-vector max. These folds compute the same argmax
# (identical cosine expression per candidate, identical desc-cosine /
# asc-id tie-break, exact IEEE comparisons) as a pure map over a
# one-row broadcast of the candidate array: zero exchange, zero sort,
# and the docstrings' long-standing "map-side argmax" claim becomes
# literally true in the plan (guide §2.4: remove shuffles outright).
# Results are bit-identical: the selection comparator is a strict
# total order (cos desc, id asc), so the fold's outcome is independent
# of candidate order, and the winning values round-trip unchanged.
# ---------------------------------------------------------------------------

_NEG_COS = -10.0  # below every real cosine AND the -2.0 guard sentinel


def _cand_arr(cands: DataFrame, id_col: str, vec_col: str, norm: str) -> DataFrame:
    """One-row relation holding the whole (small) candidate set as
    array<struct<cid,cent,cnorm>> SORTED BY cid — the broadcastable
    codebook form (sorted so that "first index among cosine ties" is
    exactly the old "min cid among ties" tie-break). The scalar
    aggregate is exactly one row, so the downstream crossJoin is a
    bounded BroadcastNestedLoopJoin (lint-safe)."""
    return cands.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("long").alias("cid"),
                    F.col(vec_col).alias("cent"),
                    F.col(norm).alias("cnorm"),
                )
            )
        ).alias("cands")
    )


def _let(col: Column, fn) -> Column:
    """Bind ``col`` once and reference it many times inside one
    expression: HOF lambda variables are evaluated exactly once, so
    ``transform(array(col), v -> fn(v))[1]`` is a LET binding — without
    it, every reference to ``col`` re-evaluates its whole subtree
    (interpreted projections have no common-subexpression
    elimination)."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _cosines(vec: Column, vnorm: Column, cands: Column, scorer) -> Column:
    """array<double>: one row's cosine against every candidate — the
    same per-candidate expression tree the Window forms used, kept
    primitive (no per-entry struct) so the argmax scan is native.
    ``vec``/``vnorm`` are LET-bound first: project-collapse inlines
    them into this expression, and without the binding the norm's own
    sqrt-fold would re-evaluate once per CANDIDATE instead of once per
    row."""
    return _let(
        F.struct(vec.alias("v"), vnorm.alias("n")),
        lambda b: F.transform(
            cands, lambda c: scorer(dot_col(b["v"], c["cent"]), b["n"], c["cnorm"])
        ),
    )


def argmax_cosine(vec: Column, vnorm: Column, cands: Column, scorer=None) -> Column:
    """1-based index (int) of the best candidate (cos desc, cid asc) in
    the cid-sorted candidate array — feed it to element_at.
    array_position returns the FIRST index holding the maximum, which
    with cid-sorted candidates is exactly the old min-cid tie-break."""
    cosarr = _cosines(vec, vnorm, cands, scorer or cosine_from)
    return _let(
        cosarr, lambda a: F.array_position(a, F.array_max(a)).cast("int")
    )


def argtop2_cosine(vec: Column, vnorm: Column, cands: Column) -> Column:
    """struct<i1,i2>: 1-based indexes of the two best candidates in
    (cos desc, cid asc) order — the nprobe≤2 slice of the old
    row_number ranking. The runner-up is the max after masking the
    winner's POSITION (masking by position, not value, keeps duplicate
    cosines eligible for rank 2, exactly like row_number did)."""
    cosarr = _cosines(vec, vnorm, cands, cosine_from)
    return _let(
        cosarr,
        lambda a: _let(
            F.array_position(a, F.array_max(a)).cast("int"),
            lambda i1: F.struct(
                i1.alias("i1"),
                _let(
                    F.transform(
                        a,
                        lambda x, j: F.when(
                            j == i1 - 1, F.lit(_NEG_COS)
                        ).otherwise(x),
                    ),
                    lambda msk: F.array_position(msk, F.array_max(msk)).cast(
                        "int"
                    ),
                ).alias("i2"),
            ),
        ),
    )


def _codebook_lits(rows, m: int) -> list[Column]:
    """Per-subspace PQ codebook as PLAN LITERALS: rows are the
    memoized, driver-collected trained codebook (the sanctioned
    _PQ_MEMO artifact — _pq_fit_hit collects it at build time regardless),
    embedded as constant arrays exactly like the LSH _HYPERPLANES.
    Literal codebooks cost nothing per row (constant-folded once),
    where the previous broadcast-join form copied the whole codebook
    into every output row. Entries are sorted by code_id so the
    first-index-among-ties pick equals the old min-cid tie-break;
    doubles are collected IEEE values embedded verbatim."""
    per_s: dict[int, list] = {}
    for r in rows:
        per_s.setdefault(int(r["s"]), []).append(r)
    out = []
    for s in range(m):
        entries = sorted(per_s.get(s, []), key=lambda r: int(r["code_id"]))
        out.append(
            F.array(
                *[
                    F.struct(
                        F.lit(int(r["code_id"])).cast("long").alias("cid"),
                        F.array(*[F.lit(float(v)) for v in r["cent"]]).alias("cent"),
                        F.lit(float(r["__bnorm"])).alias("cnorm"),
                    )
                    for r in entries
                ]
            )
        )
    return out


def _pq_codes_arr(
    vec: Column, cbs: list[Column], m: int, subdim: int, scorer
) -> Column:
    """array<struct<s, e:struct<cid,cent,cnorm>>>: the chosen codeword
    per subspace of one vector — the whole PQ encode as a single
    map-side expression over literal codebooks. Replaces the old
    explode-to-subvectors → broadcast join on s → row_number() over
    Window(vec_id, s) pipeline, whose window exchanged and sorted m×N
    subvector rows; each subspace's argmax here evaluates the identical
    cosine over the identical codebook entries with the identical
    tie-break, so codes (and any reconstruction built from them) are
    bit-identical."""
    entries = []
    for s in range(m):
        sub = F.slice(vec, s * subdim + 1, subdim)
        snorm = norm_col(sub)
        idx = argmax_cosine(sub, snorm, cbs[s], scorer)
        entries.append(
            F.struct(
                F.lit(s).alias("s"), F.element_at(cbs[s], idx).alias("e")
            )
        )
    return F.array(*entries)


def _plane_lit(j: int, planes: list[list[float]] | None = None) -> Column:
    return F.array(*[F.lit(v) for v in (planes or _HYPERPLANES)[j]])


def _sql_plane(j: int, planes: list[list[float]] | None = None) -> str:
    return "[" + ", ".join(repr(v) for v in (planes or _HYPERPLANES)[j]) + "]"


def bucket_col(vec: Column | str, planes: list[list[float]] | None = None) -> Column:
    """Sign-random-projection bucket id: bit j = sign(vec · plane_j)."""
    b = F.lit(0)
    for j in range(len(planes) if planes is not None else N_BITS):
        b = b + F.when(dot_col(vec, _plane_lit(j, planes)) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return b.cast("int")


def _sql_bucket(vec: str, planes: list[list[float]] | None = None) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_sql_dot(vec, _sql_plane(j, planes))} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(len(planes) if planes is not None else N_BITS)
    )
    return f"CAST({terms} AS INTEGER)"


def _split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm_col("embedding").alias("q_norm"),
    )
    cands = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        norm_col("embedding").alias("c_norm"),
    )
    return queries, cands


_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings WHERE vec_id >= {N_QUERIES}),
     scored AS (
        SELECT query_id, cand_id, {_sql_cosine("q_emb", "c_emb")} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_sql_cosine("q_emb", "c_emb")} DESC, cand_id) AS rn
        FROM q CROSS JOIN c
     )
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM scored WHERE rn <= {TOP_K}
"""


@query("sim_topk", oracle=_TOPK_ORACLE)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set × map-side cosine →
    per-query top-k window.

    Scale note (100 TB): the cross join with a broadcast query side is a
    pure map — no shuffle, no skew. The top-k window does NOT shuffle the
    |Q|×|C| scored rows: the ``row_number() ... filter(rank <= k)`` shape
    triggers Spark's rank-limit pushdown, which inserts
    ``WindowGroupLimit(..., row_number(), k, Partial)`` BELOW the
    exchange — each map partition is locally sorted and trimmed to its
    own top-k per query before shuffling, so only |Q| × k × partitions
    rows cross the wire (the ``Final`` WindowGroupLimit re-trims after
    the merge). Plan shape is pinned by
    tests/test_plans.py::test_sim_topk_partial_topk_before_exchange;
    keep the ordered row_number + rank filter form or the pushdown
    (and the bounded shuffle) silently disappears.
    """
    queries, cands = _split(spark, sf_dir)
    scored = F.broadcast(queries).crossJoin(cands).select(
        "query_id",
        "cand_id",
        cosine_from(dot_col("q_emb", "c_emb"), "q_norm", "c_norm").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


_LSH_ORACLE = f"""
WITH b AS (SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket FROM embeddings),
     q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS cand_id, embedding AS c_emb, bucket FROM b WHERE vec_id >= {N_QUERIES}),
     scored AS (
        SELECT query_id, cand_id, {_sql_cosine("q_emb", "c_emb")} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_sql_cosine("q_emb", "c_emb")} DESC, cand_id) AS rn
        FROM q JOIN c USING (bucket)
     )
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM scored WHERE rn <= {TOP_K}
"""


@query("sim_lsh_ann", oracle=_LSH_ORACLE)
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection LSH: candidates share the query's
    {N_BITS}-bit bucket; exact cosine + top-k inside the bucket only.

    Scale note: signatures are map-side (hyperplanes are literals in the
    plan — broadcast for free); the bucket equi-join shuffles on a
    16-way key here, 2^b-way in general — pick b so the hottest bucket
    fits an executor, and salt or raise b if occupancy skews.
    """
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    b = emb.select(
        "vec_id",
        "embedding",
        bucket_col("embedding").alias("bucket"),
        norm_col("embedding").alias("norm"),
    )
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
        F.col("norm").alias("q_norm"),
    )
    c = b.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
        F.col("norm").alias("c_norm"),
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id",
        "cand_id",
        cosine_from(dot_col("q_emb", "c_emb"), "q_norm", "c_norm").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


_MULTIPROBE_ORACLE = f"""
WITH b AS (SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket FROM embeddings),
     probes AS (SELECT unnest(range(0, {N_BITS + 1})) AS j),
     q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                  CASE WHEN j = 0 THEN bucket
                       ELSE xor(bucket, CAST(2 ** (j - 1) AS INTEGER)) END AS bucket
           FROM b CROSS JOIN probes WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS cand_id, embedding AS c_emb, bucket FROM b
           WHERE vec_id >= {N_QUERIES}),
     scored AS (
        SELECT query_id, cand_id, {_sql_cosine("q_emb", "c_emb")} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_sql_cosine("q_emb", "c_emb")} DESC, cand_id) AS rn
        FROM q JOIN c USING (bucket)
     )
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM scored WHERE rn <= {TOP_K}
"""


@query("sim_lsh_multiprobe", oracle=_MULTIPROBE_ORACLE)
def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH: each query probes its own bucket PLUS every
    bucket at Hamming distance 1 ({N_BITS + 1} probes of 2^{N_BITS}
    buckets) — the classic recall lever for sign-random-projection
    tables (Lv et al., VLDB'07): a near neighbor that lands one
    sign-flip away is still found, at {N_BITS + 1}× the candidate
    volume of single-probe sim_lsh_ann (measured on this fixture:
    recall@{TOP_K} 0.175 → 0.500 at sf0.01; ann_recall_at_k records
    it per round).

    Scale shape: identical to sim_lsh_ann — the probe expansion
    explodes the (broadcast-sized) QUERY side only, {N_BITS + 1} rows
    per query; the corpus side still computes one signature map-side
    and shuffles once on the bucket key."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    b = emb.select(
        "vec_id",
        "embedding",
        bucket_col("embedding").alias("bucket"),
        norm_col("embedding").alias("norm"),
    )
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("int")
            for j in range(N_BITS)
        ],
    )
    q = (
        b.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(probes).alias("bucket"),
            F.col("norm").alias("q_norm"),
        )
    )
    c = b.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
        F.col("norm").alias("c_norm"),
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id",
        "cand_id",
        cosine_from(dot_col("q_emb", "c_emb"), "q_norm", "c_norm").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


_IVF_ORACLE = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings
              WHERE vec_id < {N_CENTROIDS}),
     assign AS (
        SELECT vec_id, embedding, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY {_sql_cosine("embedding", "cent_emb")} DESC, centroid_id) AS rn
        FROM embeddings CROSS JOIN cent
     ),
     cell AS (SELECT vec_id, embedding, centroid_id FROM assign WHERE rn = 1),
     q AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM cell
           WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS cand_id, embedding AS c_emb, centroid_id FROM cell
           WHERE vec_id >= {N_QUERIES}),
     scored AS (
        SELECT query_id, cand_id, {_sql_cosine("q_emb", "c_emb")} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_sql_cosine("q_emb", "c_emb")} DESC, cand_id) AS rn
        FROM q JOIN c USING (centroid_id)
     )
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM scored WHERE rn <= {TOP_K}
"""


@query("sim_ivf", oracle=_IVF_ORACLE)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(nlist={N_CENTROIDS}, nprobe=1) ANN: fixed coarse centroids
    (vec_id < {N_CENTROIDS} — the seed set `kmeans_centroids` trains
    from in-engine; trained centroids broadcast the same way); each
    vector joins its nearest cell map-side; queries search their own
    cell only.

    Scale note: assignment is a broadcast cross join against nlist
    centroids (map-side argmax, no shuffle); the cell equi-join is the
    one shuffle, keyed by centroid_id — at 100 TB make nlist ~ sqrt(N)
    so cells stay executor-sized, and raise nprobe for recall.
    """
    return _ivf_topk(spark, sf_dir, nprobe=1)


def _coarse_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment (vec_id, embedding, centroid_id, rn≤2) —
    ONE subtree shared by the sim_ivf family and the IVF-PQ
    composition; ann_recall_at_k pins it so six arms assign once.

    r13: the old crossJoin + row_number() over Window(vec_id) shuffled
    nlist×N rows (each with the full embedding) and sorted them to rank
    8 candidates per vector; every consumer filters rn ≤ {_IVF_NPROBE},
    so a map-side top-2 fold over the one-row broadcast centroid array
    computes the identical (centroid_id, rn) pairs with ZERO exchange
    (plans/r13/sim_ivf_*.txt: Exchange+Sort+Window → pure Project).
    Tie-break (cos desc, centroid_id asc) and the per-candidate cosine
    expression are unchanged, so assignments are bit-identical."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "__enorm", norm_col("embedding")
    )
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_emb"),
        F.col("__enorm").alias("__cnorm"),
    )
    carr = _cand_arr(cent, "centroid_id", "cent_emb", "__cnorm")
    t2 = fan_out(emb).crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "embedding",
        "cands",
        argtop2_cosine(F.col("embedding"), F.col("__enorm"), F.col("cands")).alias(
            "__t2"
        ),
    )
    ranked = F.array(
        F.struct(
            F.element_at(F.col("cands"), F.col("__t2.i1"))["cid"].alias(
                "centroid_id"
            ),
            F.lit(1).alias("rn"),
        ),
        F.struct(
            F.element_at(F.col("cands"), F.col("__t2.i2"))["cid"].alias(
                "centroid_id"
            ),
            F.lit(2).alias("rn"),
        ),
    )
    return t2.select("vec_id", "embedding", F.explode(ranked).alias("x")).select(
        "vec_id",
        "embedding",
        F.col("x.centroid_id").alias("centroid_id"),
        F.col("x.rn").alias("rn"),
    )


def _ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 1,
    assign: DataFrame | None = None,
) -> DataFrame:
    """IVF search core: queries probe their ``nprobe`` nearest cells
    over a (shareable) coarse assignment; candidates live in their
    rn=1 cell. The registered sim_ivf / sim_ivf_nprobe2 pin the oracle
    knobs; ann_recall_at_k passes a pinned ``assign``."""
    if assign is None:
        assign = _coarse_assign(spark, sf_dir)
    q = assign.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rn") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "centroid_id",
        norm_col("embedding").alias("q_norm"),
    )
    c = assign.filter((F.col("vec_id") >= N_QUERIES) & (F.col("rn") == 1)).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        "centroid_id",
        norm_col("embedding").alias("c_norm"),
    )
    scored = F.broadcast(q).join(c, "centroid_id").select(
        "query_id",
        "cand_id",
        cosine_from(dot_col("q_emb", "c_emb"), "q_norm", "c_norm").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


_IVF_NPROBE = 2
# _coarse_assign materializes exactly the top-2 ranks (argtop2_cosine);
# consumers filter rn <= _IVF_NPROBE against that. Raising the knob
# past 2 would silently TRUNCATE probes to 2 — fail loudly instead
# (widen argtop2_cosine to an argtop-k fold before raising it).
if _IVF_NPROBE > 2:
    raise ValueError("_coarse_assign's argtop2 fold caps nprobe at 2")

_IVF_NPROBE2_ORACLE = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings
              WHERE vec_id < {N_CENTROIDS}),
     assign AS (
        SELECT vec_id, embedding, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY {_sql_cosine("embedding", "cent_emb")} DESC, centroid_id) AS rn
        FROM embeddings CROSS JOIN cent
     ),
     q AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM assign
           WHERE vec_id < {N_QUERIES} AND rn <= {_IVF_NPROBE}),
     c AS (SELECT vec_id AS cand_id, embedding AS c_emb, centroid_id FROM assign
           WHERE vec_id >= {N_QUERIES} AND rn = 1),
     scored AS (
        SELECT query_id, cand_id, {_sql_cosine("q_emb", "c_emb")} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_sql_cosine("q_emb", "c_emb")} DESC, cand_id) AS rn
        FROM q JOIN c USING (centroid_id)
     )
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM scored WHERE rn <= {TOP_K}
"""


@query("sim_ivf_nprobe2", oracle=_IVF_NPROBE2_ORACLE)
def sim_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe={_IVF_NPROBE}: each QUERY probes its
    {_IVF_NPROBE} nearest cells (candidates still live in exactly one
    cell) — the standard IVF recall knob, demonstrated as a registered
    query so ann_recall_at_k measures the lever, not just the floor.

    Scale note: identical plan shape to sim_ivf — the probe expansion
    multiplies only the (broadcast-small) query side by nprobe; the
    corpus side still assigns map-side and shuffles once on
    centroid_id."""
    return _ivf_topk(spark, sf_dir, nprobe=_IVF_NPROBE)


# --- multi-table, occupancy-adaptive LSH for near-dup blocking -------------
#
# One fixed-width hash table goes quadratic as the corpus grows: bucket
# occupancy scales with n, so candidate pairs scale with n²/2^bits
# (measured exponent ~1.1 at 10x sf0.1 with the old single-table form).
# The scale-sane shape is the vector analog of MinHash banding:
#
# - **bits grow with n** to pin expected bucket occupancy at
#   {NEAR_DUP_TARGET_OCC}: bits = log2(n / target). Candidate volume is
#   then ~ n * occupancy * tables / 2 — LINEAR in n.
# - **tables grow to hold recall**: one table of b bits finds a
#   cos-{NEAR_DUP_COS} pair with prob p^b (p = 1 - theta/pi); L
#   independent tables lift that to 1-(1-p^b)^L. L is chosen as the
#   smallest count matching the recall of the (4-bit, 2-table) anchor
#   the oracle pins, so growing the corpus never silently degrades
#   recall. This is classic E2LSH-style (b, L) scaling — candidates
#   from any table union, dedup, then exact-verify.
#
# The DuckDB oracle hard-codes the anchor knobs, which _nd_knobs
# reproduces exactly at the driver's sf0.01 (n=500 -> bits=4, L=2);
# larger corpora get more buckets/tables Spark-side only.

NEAR_DUP_TARGET_OCC = 32
_ND_P = 1.0 - math.acos(NEAR_DUP_COS) / math.pi  # P[one hyperplane agrees]
_ND_ANCHOR_TABLES = 2


def _nd_knobs(n: int) -> tuple[int, int]:
    """(bits, tables) for a corpus of n vectors — anchor knobs at the
    oracle's scale, occupancy-pinned bits + recall-pinned tables above."""
    bits = max(N_BITS, int(math.log2(max(n / NEAR_DUP_TARGET_OCC, 1.0))))
    anchor_miss = (1.0 - _ND_P**N_BITS) ** _ND_ANCHOR_TABLES
    # round before ceil: at bits == N_BITS the ratio is exactly 2 up to
    # float noise, and ceil(2.0000000000000004) would give 3
    tables = max(1, math.ceil(round(math.log(anchor_miss) / math.log(1.0 - _ND_P**bits), 6)))
    return bits, tables


def _nd_planes(t: int, bits: int) -> list[list[float]]:
    """Hyperplanes for table t. Row-major RandomState fill means plane j
    is the same no matter how many bits are drawn, so growing `bits`
    extends a table's planes without rehashing the early ones."""
    return np.random.RandomState(101 + t).standard_normal((bits, DIM)).tolist()


_ND_ORACLE_PLANES = [_nd_planes(t, N_BITS) for t in range(_ND_ANCHOR_TABLES)]

_NEARDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
tb AS (
  SELECT vec_id, 0 AS tbl, {_sql_bucket("embedding", _ND_ORACLE_PLANES[0])} AS bucket FROM e
  UNION ALL
  SELECT vec_id, 1 AS tbl, {_sql_bucket("embedding", _ND_ORACLE_PLANES[1])} AS bucket FROM e
), bstat AS (
  SELECT tbl, bucket, MIN(vec_id) AS hub, COUNT(*) AS n
  FROM tb GROUP BY tbl, bucket
), cand AS (
  SELECT DISTINCT vec_a, vec_b FROM (
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM tb a
    JOIN tb c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
    JOIN bstat s ON s.tbl = a.tbl AND s.bucket = a.bucket
    WHERE s.n <= {_BUCKET_PAIR_CAP}
    UNION ALL
    SELECT s.hub, x.vec_id
    FROM tb x JOIN bstat s ON s.tbl = x.tbl AND s.bucket = x.bucket
    WHERE s.n > {_BUCKET_PAIR_CAP} AND x.vec_id != s.hub
  )
)
SELECT vec_a, vec_b, {_sql_cosine("ea.embedding", "eb.embedding")} AS cosine
FROM cand
JOIN e ea ON ea.vec_id = cand.vec_a
JOIN e eb ON eb.vec_id = cand.vec_b
WHERE {_sql_cosine("ea.embedding", "eb.embedding")} >= {NEAR_DUP_COS}
"""


@query("dedup_embedding_cosine", oracle=_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table LSH blocking
    (map-side bucket signatures), exact cosine verification at threshold
    {NEAR_DUP_COS} on the deduped candidate union — the vector-space
    sibling of dedup_minhash_lsh's band blocking.

    Scale shape: (bits, tables) adapt to corpus size (see _nd_knobs) so
    candidate volume grows ~linearly, not quadratically; the bucket
    self-join shuffles only (tbl, bucket, vec_id) — embeddings rejoin
    at verify time by vec_id, so vectors never ride through the
    quadratic-risk step. Candidate-side joins are left to AQE: tiny
    candidate sets broadcast, dup-heavy ones shuffle-hash."""
    emb = load(spark, sf_dir, "embeddings")
    bits, tables = _nd_knobs(emb.count())
    base = fan_out(emb).select("vec_id", "embedding", norm_col("embedding").alias("norm"))
    cand = _nd_candidate_pairs(base, bits, tables)
    ea = base.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("norm").alias("na")
    )
    eb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("norm").alias("nb")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", cosine_from(dot_col("ea", "eb"), "na", "nb"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", "cosine")
    )


def _nd_candidate_pairs(base: DataFrame, bits: int, tables: int) -> DataFrame:
    """Multi-table SRP-LSH candidate pairs (vec_a < vec_b) with the
    BUCKET_PAIR_CAP hub guard — the shared front half of
    dedup_embedding_cosine and its measured-quality twin."""
    planes = [_nd_planes(t, bits) for t in range(tables)]
    tb = base.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        bucket_col("embedding", planes[t]).alias("bucket"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    # mega-cluster guard (see dedup.py BUCKET_PAIR_CAP): near-identical
    # embeddings land in the same bucket of EVERY table; hub-link past
    # the occupancy cap, mirrored in the oracle
    bstat = tb.groupBy("tbl", "bucket").agg(
        F.min("vec_id").alias("hub"), F.count(F.lit(1)).alias("n")
    )
    tbs = tb.join(bstat, ["tbl", "bucket"])
    small = tbs.filter(F.col("n") <= _BUCKET_PAIR_CAP)
    a = small.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    c = small.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    all_pairs = (
        a.join(c, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    hub_pairs = (
        tbs.filter((F.col("n") > _BUCKET_PAIR_CAP) & (F.col("vec_id") != F.col("hub")))
        .select(F.col("hub").alias("vec_a"), F.col("vec_id").alias("vec_b"))
    )
    return (
        all_pairs.unionByName(hub_pairs)
        .distinct()
        .localCheckpoint(eager=False)
    )


# Blocking-quality measurement for the embedding near-dup family — the
# vector sibling of dedup_minhash_quality. Ground truth is all-pairs
# exact cosine over a FIXED-size vec prefix (the quadratic is the
# measurement's, not the operator's); candidates are the REAL
# multi-table LSH pipeline at the anchor knobs (the capped sample size
# keeps _nd_knobs at the oracle's 4-bit/2-table anchor on both sides).
ND_QUALITY_SAMPLE = 800
# Fixture-calibrated measurement threshold (like SEM_TAU): the synthetic
# embeddings are near-orthogonal (max pairwise cosine 0.51/0.60 at
# sf0.01/0.1), so the production NEAR_DUP_COS=0.8 has an EMPTY truth set
# here; τ=0.4 yields 59/163 true pairs at the two scales. The blocking
# under test keeps its production knobs — so the measured recall is the
# honest (low) off-design rate, to be read against the SRP theory
# 1−(1−p^bits)^tables with p = 1 − acos(τ)/π ≈ 0.29 at the τ boundary.
ND_QUALITY_TAU = 0.4

_ND_QUALITY_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ND_QUALITY_SAMPLE}),
tb AS (
  SELECT vec_id, 0 AS tbl, {_sql_bucket("embedding", _ND_ORACLE_PLANES[0])} AS bucket FROM e
  UNION ALL
  SELECT vec_id, 1 AS tbl, {_sql_bucket("embedding", _ND_ORACLE_PLANES[1])} AS bucket FROM e
), bstat AS (
  SELECT tbl, bucket, MIN(vec_id) AS hub, COUNT(*) AS n
  FROM tb GROUP BY tbl, bucket
), cand AS (
  SELECT DISTINCT vec_a, vec_b FROM (
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM tb a
    JOIN tb c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
    JOIN bstat s ON s.tbl = a.tbl AND s.bucket = a.bucket
    WHERE s.n <= {_BUCKET_PAIR_CAP}
    UNION ALL
    SELECT s.hub, x.vec_id
    FROM tb x JOIN bstat s ON s.tbl = x.tbl AND s.bucket = x.bucket
    WHERE s.n > {_BUCKET_PAIR_CAP} AND x.vec_id != s.hub
  )
), truth AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_sql_cosine("a.embedding", "b.embedding")} >= {ND_QUALITY_TAU}
), j AS (
  SELECT (t.vec_a IS NOT NULL) AS in_truth, (c.vec_a IS NOT NULL) AS in_cand
  FROM truth t FULL OUTER JOIN cand c
    ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b
)
SELECT CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS expected,
       CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS BIGINT) AS found,
       CASE WHEN SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) > 0 THEN
            CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) END AS recall,
       CASE WHEN SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) > 0 THEN
            CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) END AS cand_precision
FROM j
"""


@query("dedup_embedding_quality", oracle=_ND_QUALITY_ORACLE)
def dedup_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall + candidate precision of the multi-table SRP-LSH blocking
    (dedup_embedding_cosine's candidate pipeline, production knobs)
    against the exact all-pairs cosine-≥-{ND_QUALITY_TAU} ground truth
    over a fixed {ND_QUALITY_SAMPLE}-vector prefix — τ is
    fixture-calibrated (see ND_QUALITY_TAU note). The theoretical
    single-pair catch probability at cosine c is 1−(1−p^bits)^tables
    with p = 1 − acos(c)/π; this query measures the realized rate per
    corpus, the same conversion of "blocking runs" into "blocking
    works" as ann_recall_at_k and dedup_minhash_quality."""
    emb = fan_out(
        load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < ND_QUALITY_SAMPLE)
    )
    base = emb.select("vec_id", "embedding", norm_col("embedding").alias("norm"))
    bits, tables = _nd_knobs(ND_QUALITY_SAMPLE)
    cand = _nd_candidate_pairs(base, bits, tables)
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    truth = (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cosine_from(dot_col("ea", "eb"), "na", "nb") >= ND_QUALITY_TAU)
        .select("vec_a", "vec_b")
    )
    from .dedup import blocking_quality

    return blocking_quality(truth, cand, ["vec_a", "vec_b"])


# ---------------------------------------------------------------------------
# K-means (Lloyd) centroid training: the in-engine answer to sim_ivf's
# "centroids trained offline". Deterministic init (vec_id < K seeds,
# the same set sim_ivf probes), cosine assignment identical to
# sim_ivf's, elementwise-mean update. Two fixed iterations so the
# whole run is expressible as plain SQL for the DuckDB oracle.
# ---------------------------------------------------------------------------

KMEANS_ITERS = 2

# Trained-codebook memo: the Lloyd pipeline is deterministic (seed =
# vec_id < K, decimal-exact update sums, tie-broken argmax), so its
# final-round updates are a pure function of the corpus — a trained
# ARTIFACT, like a PQ codebook. Several queries consume the identical
# training (kmeans_centroids, dedup_semdedup); within one process the
# K×DIM result rows (tiny — 8×64 here) are collected once per corpus
# and replayed from the driver, exactly the production shape where
# centroids are trained once and broadcast to every consumer instead
# of re-trained per query. Keyed by sf_dir; values are bit-exact
# round-trips (collected doubles), so oracle hashes are unchanged.
_TRAINED_MEMO: dict[tuple, tuple] = {}


def _corpus_version(sf_dir: str) -> object:
    """Cache key component tying the memo to the corpus CONTENT, not
    just its path: one (name, size, mtime_ns) tuple PER data file, so a
    rewrite that shuffles bytes between files while preserving the
    total — or touches only one file within coarse-mtime granularity —
    still invalidates (the aggregate max-mtime+total-size key could
    miss both). A stat failure returns a fresh sentinel that equals
    nothing, so an unreadable corpus retrains instead of replaying a
    stale codebook."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            return tuple(
                sorted(
                    (f, (st := os.stat(os.path.join(path, f))).st_size, st.st_mtime_ns)
                    for f in os.listdir(path)
                    if not f.startswith(("_", "."))
                )
            )
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    except OSError:
        return object()  # unknown version: never matches, always retrains


def _trained_updates(spark: SparkSession, emb: DataFrame, cache_key: str) -> DataFrame:
    """Final-round Lloyd updates (centroid_id, dim, value, n_members),
    trained on first use per corpus VERSION and replayed thereafter
    (key = path + file mtimes/sizes, so an in-place rewrite retrains)."""
    sf_dir = cache_key
    cache_key = (sf_dir, _corpus_version(sf_dir))
    hit = _TRAINED_MEMO.get(cache_key)
    if hit is None:
        cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent")
        )
        updates: DataFrame | None = None
        for _ in range(KMEANS_ITERS):
            updates = _update(_assign(emb, cent))
            cent = _centroid_arrays(updates)
        assert updates is not None
        hit = (updates.schema, updates.collect())
        # one live version per corpus path: evict superseded entries so
        # a long-lived driver that regenerates the corpus doesn't grow
        # the memo without bound
        for stale in [k for k in _TRAINED_MEMO if k[0] == sf_dir]:
            del _TRAINED_MEMO[stale]
        _TRAINED_MEMO[cache_key] = hit
    return spark.createDataFrame(hit[1], hit[0])


def _centroid_arrays(updates: DataFrame) -> DataFrame:
    """(centroid_id, dim, value) -> (centroid_id, cent: array<double>)
    with elements in dim order — array_sort on (dim, value) structs is
    deterministic, so the rebuilt array is reproducible."""
    return updates.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "value"))),
            lambda s: s["value"],
        ).alias("cent")
    )


def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid by cosine (argmax, ties to min centroid_id) —
    the exact assignment rule sim_ivf uses, so trained centroids drop
    straight into its probe. Norms precomputed once per vector and
    per centroid: the argmax over k candidates evaluates k dot folds,
    not 3k (same bits — identical divide/multiply tree).

    r13: map-side argmax fold over the one-row broadcast centroid
    array instead of crossJoin + row_number() over Window(vec_id) —
    the old form shuffled K×N rows with their embeddings and sorted
    them; the fold computes the identical argmax with zero exchange
    (same cosine expression, same desc-cos/asc-id tie-break)."""
    e = emb.withColumn("__enorm", norm_col("embedding"))
    c = cent.withColumn("__cnorm", norm_col("cent"))
    carr = _cand_arr(c, "centroid_id", "cent", "__cnorm")
    return e.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "embedding",
        F.element_at(
            F.col("cands"),
            argmax_cosine(F.col("embedding"), F.col("__enorm"), F.col("cands")),
        )["cid"].alias("centroid_id"),
    )


def _update(members: DataFrame) -> DataFrame:
    """Elementwise mean per centroid, exact across engines: elements
    quantize to fixed-point integers (floor(x·10⁶) — float→double is
    exact, the double multiply and floor are deterministic IEEE ops in
    both engines), sums are then order-independent integer arithmetic,
    and the mean is the same two-division double expression on both
    sides. DECIMAL casts are NOT usable here: float32 values round at
    the 6th decimal digit, and Spark (half-up on the exact binary
    expansion) and DuckDB disagree on those roundings — observed 1-ulp
    sum drift at sf0.01."""
    ex = members.select(
        "centroid_id", F.posexplode("embedding").alias("pos", "val")
    ).select("centroid_id", (F.col("pos") + 1).alias("dim"), "val")
    q = F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("long")
    return ex.groupBy("centroid_id", "dim").agg(
        (
            F.sum(q).cast("double") / F.lit(1000000.0) / F.count(F.lit(1)).cast("double")
        ).alias("value"),
        F.count(F.lit(1)).alias("n_members"),
    )


def _sql_kmeans_round(prev_cent: str, out: str) -> str:
    """One Lloyd round as SQL CTE text: assign to `prev_cent`, update
    into `{out}_u` (long form) and `{out}` (arrays)."""
    return f"""
{out}_a AS (
    SELECT e.vec_id, e.embedding, p.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cosine("e.embedding", "p.cent")} DESC,
                                       p.centroid_id) AS rn
    FROM e CROSS JOIN {prev_cent} p
),
{out}_u AS (
    SELECT centroid_id, d.dim,
           CAST(SUM(CAST(floor(CAST(embedding[d.dim] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS value,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM {out}_a, (SELECT unnest(range(1, {DIM} + 1)) AS dim) d
    WHERE rn = 1
    GROUP BY centroid_id, d.dim
),
{out} AS (
    SELECT centroid_id, list(value ORDER BY dim) AS cent
    FROM {out}_u GROUP BY centroid_id
)""".strip()


_KMEANS_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (SELECT vec_id AS centroid_id, embedding AS cent FROM e WHERE vec_id < {N_CENTROIDS}),
{_sql_kmeans_round("c0", "r1")},
{_sql_kmeans_round("r1", "r2")}
SELECT centroid_id, CAST(dim AS INT) AS dim, value, n_members FROM r2_u
"""


@query("kmeans_centroids", oracle=_KMEANS_ORACLE)
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train IVF coarse centroids in-engine: {KMEANS_ITERS} Lloyd
    iterations (seed = the vec_id < {N_CENTROIDS} vectors, assignment =
    sim_ivf's cosine argmax, update = decimal-exact elementwise mean).
    Output is long-form (centroid_id, dim, value, n_members) — scalar
    columns only, per the harness rule.

    Scale shape per iteration: assignment is a broadcast cross join
    against K centroids (map-side argmax, no shuffle of the corpus);
    update is ONE groupBy keyed by (centroid_id, dim) — K×{DIM} groups,
    partial aggregation map-side, so the shuffle carries K×{DIM}
    partial sums per partition regardless of corpus size. Centroids
    round-trip between iterations as a K-row aggregate (never the
    driver), and the iteration count is a fixed small constant —
    lineage stays shallow without checkpoints."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return _trained_updates(spark, emb, sf_dir).select(
        "centroid_id", F.col("dim").cast("int").alias("dim"), "value", "n_members"
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540 — public method). Cluster the corpus with k-means,
# then search for near-duplicate pairs ONLY within each cluster; among
# a near-dup pair, keep the member FARTHER from its centroid (the
# paper's choice — it preserves the cluster's outskirts, i.e. diversity)
# and drop the closer one.
# ---------------------------------------------------------------------------

# Pair-cosine threshold (literal on both sides — never computed).
# Fixture-calibrated: the synthetic 64-d embeddings are near-orthogonal
# (intra-cluster max cosine ≈ 0.51/0.60 at sf0.01/0.1), so the paper's
# 0.9+ would fire on nothing; 0.4 yields a meaningful dup set (26/330
# qualifying pairs) while most of the corpus survives. Production
# corpora with real near-dup mass run τ at the paper's 0.9+.
SEM_TAU = 0.4
SEM_CLUSTER_CAP = 256  # mega-cluster guard: beyond this, hub-link (see below)
_SEM_EAGER_CKPT = True  # pin _sem_clusters before its three consumers (A/B'd)


def _sem_clusters(spark: SparkSession, emb: DataFrame, cache_key: str) -> DataFrame:
    """Membership + centroid distance: the same deterministic pipeline
    as :func:`kmeans_centroids` (seed = vec_id < K, {KMEANS_ITERS} Lloyd
    rounds, cosine argmax — shared via the trained-codebook memo, so
    one process trains once for both queries), plus one final
    assignment against the trained centroids and each member's cosine
    to its own centroid."""
    cent = _centroid_arrays(_trained_updates(spark, emb, cache_key))
    members = _assign(emb, cent)
    return (
        members.join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            "embedding",
            cosine_col("embedding", "cent").alias("cent_cos"),
            norm_col("embedding").alias("norm"),
        )
    )


_SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (SELECT vec_id AS centroid_id, embedding AS cent FROM e WHERE vec_id < {N_CENTROIDS}),
{_sql_kmeans_round("c0", "r1")},
{_sql_kmeans_round("r1", "r2")},
m AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, p.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cosine("e.embedding", "p.cent")} DESC,
                                       p.centroid_id) AS rn
    FROM e CROSS JOIN r2 p
  ) WHERE rn = 1
),
cstat AS (SELECT centroid_id, MIN(vec_id) AS hub, COUNT(*) AS n FROM m GROUP BY centroid_id),
mc AS (
  SELECT m.vec_id, m.centroid_id, m.embedding,
         {_sql_cosine("m.embedding", "p.cent")} AS cent_cos
  FROM m JOIN r2 p USING (centroid_id)
),
pair AS (
  SELECT a.vec_id AS a_id, a.cent_cos AS a_cc, a.embedding AS a_emb,
         b.vec_id AS b_id, b.cent_cos AS b_cc, b.embedding AS b_emb
  FROM mc a
  JOIN mc b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
  JOIN cstat s ON s.centroid_id = a.centroid_id
  WHERE s.n <= {SEM_CLUSTER_CAP}
  UNION ALL
  SELECT x.vec_id, x.cent_cos, x.embedding, h.vec_id, h.cent_cos, h.embedding
  FROM mc x
  JOIN cstat s ON s.centroid_id = x.centroid_id
  JOIN mc h ON h.vec_id = s.hub AND h.centroid_id = s.centroid_id
  WHERE s.n > {SEM_CLUSTER_CAP} AND x.vec_id <> s.hub
  UNION ALL
  SELECT h.vec_id, h.cent_cos, h.embedding, x.vec_id, x.cent_cos, x.embedding
  FROM mc x
  JOIN cstat s ON s.centroid_id = x.centroid_id
  JOIN mc h ON h.vec_id = s.hub AND h.centroid_id = s.centroid_id
  WHERE s.n > {SEM_CLUSTER_CAP} AND x.vec_id <> s.hub
),
removed AS (
  SELECT DISTINCT a_id FROM pair
  WHERE {_sql_cosine("a_emb", "b_emb")} >= {SEM_TAU}
    AND (b_cc < a_cc OR (b_cc = a_cc AND b_id < a_id))
)
SELECT mc.vec_id, CAST(mc.centroid_id AS INTEGER) AS centroid_id, mc.cent_cos,
       (r.a_id IS NULL) AS keep
FROM mc LEFT JOIN removed r ON r.a_id = mc.vec_id
"""


@query("dedup_semdedup", oracle=_SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the corpus, find cosine-≥-{SEM_TAU}
    pairs WITHIN clusters only, and among each pair keep the member
    farther from its centroid (lower cent_cos; ties by vec_id) — a
    member is dropped iff some same-cluster partner at pair-cosine ≥
    τ strictly dominates it in (cent_cos, vec_id) order.

    Scale shape — the whole point of the method: pair search is scoped
    to clusters, so the quadratic is Σ m_c², not N², and the paper's
    operating regime scales k WITH the corpus (k≈50k for LAION-scale)
    to hold m_c bounded — cluster count is the knob, not a rescan.
    Training + assignment are the kmeans_centroids plan (broadcast-K
    map-side argmax, K×dim-group shuffle). The pair self-join shuffles
    on centroid_id; clusters beyond {SEM_CLUSTER_CAP} members degrade
    deterministically to hub-linked comparison (every member vs the
    cluster's min-id hub) — the same mega-cluster valve as
    dedup_embedding_cosine's BUCKET_PAIR_CAP, mirrored in the oracle —
    bounding any single cluster's pair volume to O(m) at the cost of
    reduced intra-cluster recall (a properly sized k never hits it).
    """
    emb = fan_out(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    mc = _sem_clusters(spark, emb, sf_dir)
    # r14: the cluster stats (hub = min vec_id, n = size) ride the SAME
    # relation as window functions over centroid_id instead of a
    # separate aggregate + broadcast join — the old cstat broadcast was
    # its own serial job that re-materialized mc before the pair arms
    # could start (guide §2.6, eliminate tiny serial jobs). The window
    # is computed once, BEFORE the pin, so the checkpointed relation
    # already carries hub/n and is hash-partitioned by centroid_id —
    # the very key the pair self-joins use.
    w_c = Window.partitionBy("centroid_id")
    mc = mc.select(
        "*",
        F.min("vec_id").over(w_c).alias("hub"),
        F.count(F.lit(1)).over(w_c).alias("n"),
    )
    if _SEM_EAGER_CKPT:
        # mc feeds three subtrees (the pair join's two sides via mcs
        # and the final keep-flag join); the LAZY checkpoint pins it at
        # first materialization so the assignment cross-join evaluates
        # once per action, not per consumer (A/B-measured — see
        # COVERAGE.md). Lazy, not eager: bench times the sink action
        # only, and an eager pin would move the query's real work
        # outside the timed window.
        mc = mc.localCheckpoint(eager=False)
    mcs = mc
    a_cols = [
        F.col("vec_id").alias("a_id"),
        F.col("cent_cos").alias("a_cc"),
        F.col("embedding").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    ]
    b_cols = [
        F.col("vec_id").alias("b_id"),
        F.col("cent_cos").alias("b_cc"),
        F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    ]
    small = mcs.filter(F.col("n") <= SEM_CLUSTER_CAP)
    # r14: the pair join's key has only |clusters| distinct values —
    # with K = {N_CENTROIDS} fixture clusters on 32 cores, all Σ m_c²
    # cosine evaluations landed on ≤ K tasks (guide §2.5, too-few-
    # distinct-keys skew). Salt deterministically: bucket the a-side by
    # a_id, replicate the (tiny relative to the pair volume) b-side S
    # ways, join on (centroid_id, bucket) — every pair appears exactly
    # once, so results are identical for ANY S. S is derived from
    # cores-per-cluster and collapses to 1 (plain join, no replication)
    # once the cluster count exceeds the cores — the production regime
    # (SemDeDup scales k WITH the corpus), so nothing is replicated at
    # 100 TB.
    n_salt = max(1, (4 * spark.sparkContext.defaultParallelism) // N_CENTROIDS)
    a_small = small.select("centroid_id", *a_cols).withColumn(
        "__bkt", F.pmod(F.xxhash64("a_id"), F.lit(n_salt)).cast("int")
    )
    b_small = small.select("centroid_id", *b_cols).withColumn(
        "__bkt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    pairs_small = (
        a_small.repartition(nparts, "centroid_id", "__bkt")
        .join(b_small, ["centroid_id", "__bkt"])
        .filter(F.col("a_id") != F.col("b_id"))
        .drop("__bkt")
    )
    big = mcs.filter(F.col("n") > SEM_CLUSTER_CAP)
    big_nonhub = big.filter(F.col("vec_id") != F.col("hub"))
    big_hub = big.filter(F.col("vec_id") == F.col("hub"))
    pairs_hub = (
        big_nonhub.select("centroid_id", *a_cols)
        .join(big_hub.select("centroid_id", *b_cols), "centroid_id")
        .unionByName(
            big_hub.select("centroid_id", *a_cols).join(
                big_nonhub.select("centroid_id", *b_cols), "centroid_id"
            )
        )
    )
    pairs = pairs_small.unionByName(pairs_hub)
    removed = (
        pairs.withColumn(
            "pcos", cosine_from(dot_col("a_emb", "b_emb"), "a_norm", "b_norm")
        )
        .filter(
            (F.col("pcos") >= F.lit(SEM_TAU))
            & (
                (F.col("b_cc") < F.col("a_cc"))
                | ((F.col("b_cc") == F.col("a_cc")) & (F.col("b_id") < F.col("a_id")))
            )
        )
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("__rm", F.lit(True))
    )
    return (
        mc.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            "cent_cos",
            F.col("__rm").isNull().alias("keep"),
        )
    )



# ---------------------------------------------------------------------------
# Int8 scalar quantization of the embedding column — the storage/serve
# form every large vector corpus ships (4x smaller, SIMD-friendly).
# Output is per-vector affine params + a checksum/sum of the quantized
# codes (scalar columns only; the codes themselves are an array and the
# harness forbids array cells).
# ---------------------------------------------------------------------------

_QUANT_LEVELS = 255


def _quant_codes(vec: Column | str) -> Column:
    """q_i = floor((x_i - min) / scale + 0.5), 0..255 — floor(+0.5)
    instead of round() because round's tie rule (half-up vs half-even)
    differs between engines while floor is exact IEEE in both. Constant
    vectors (scale = 0) quantize to all-zeros."""
    if isinstance(vec, str):
        vec = F.col(vec)
    mn = F.array_min(vec).cast("double")
    mx = F.array_max(vec).cast("double")
    scale = (mx - mn) / F.lit(float(_QUANT_LEVELS))
    return F.transform(
        vec,
        lambda x: F.when(mx == mn, F.lit(0).cast("long")).otherwise(
            F.floor((x.cast("double") - mn) / scale + F.lit(0.5)).cast("long")
        ),
    )


_QUANT_SQL_CODES = f"""
list_transform(embedding, x_ -> CASE
    WHEN CAST(list_aggregate(embedding, 'max') AS DOUBLE) = CAST(list_aggregate(embedding, 'min') AS DOUBLE)
    THEN CAST(0 AS BIGINT)
    ELSE CAST(floor((CAST(x_ AS DOUBLE) - CAST(list_aggregate(embedding, 'min') AS DOUBLE))
                    / ((CAST(list_aggregate(embedding, 'max') AS DOUBLE)
                        - CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / {_QUANT_LEVELS}.0)
                    + 0.5) AS BIGINT) END)
""".strip()

_QUANT_ORACLE = f"""
SELECT vec_id,
       CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS zero_point,
       (CAST(list_aggregate(embedding, 'max') AS DOUBLE)
        - CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / {_QUANT_LEVELS}.0 AS scale_step,
       md5(array_to_string({_QUANT_SQL_CODES}, ',')) AS q_checksum,
       CAST(list_aggregate({_QUANT_SQL_CODES}, 'sum') AS BIGINT) AS q_sum
FROM embeddings
"""


@query("embed_quantize", oracle=_QUANT_ORACLE)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affine int8 quantization per vector: zero_point = min, scale =
    (max-min)/{_QUANT_LEVELS}; emits the dequantization params plus an
    md5 checksum and exact integer sum of the code sequence (the
    harness-checkable stand-ins for the code array itself).

    Scale shape: pure map — one pass per vector, no shuffle at all; the
    quantized corpus writes as a parquet BINARY column in practice
    (multimodal.py shows that plumbing)."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    codes = _quant_codes("embedding")
    staged = emb.select(
        "vec_id",
        mn.alias("zero_point"),
        ((mx - mn) / F.lit(float(_QUANT_LEVELS))).alias("scale_step"),
        codes.alias("q"),
    )
    return staged.select(
        "vec_id",
        "zero_point",
        "scale_step",
        F.md5(F.array_join(F.transform("q", lambda c: c.cast("string")), ",")).alias(
            "q_checksum"
        ),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, c: acc + c).alias("q_sum"),
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity via inverted-index join.
# ---------------------------------------------------------------------------

_SPARSE_DF_CAP = 20  # rare-term posting-list cap (discriminative subspace)
_SPARSE_TOP = 3

_SPARSE_PSUM = "CAST(CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"

_SPARSE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE LENGTH(token) > 2
  GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
w AS (
  SELECT tf.doc_id, tf.token, tf.tf * (n.n_docs / df.df) AS w
  FROM tf JOIN df USING (token) CROSS JOIN n
  WHERE df.df <= {_SPARSE_DF_CAP}
),
norms AS (
  SELECT doc_id, SQRT({_SPARSE_PSUM.format(x='w * w')}) AS nrm
  FROM w GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         {_SPARSE_PSUM.format(x='a.w * b.w')} AS dot,
         CAST(COUNT(*) AS BIGINT) AS shared_terms
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, sim, shared_terms FROM (
  SELECT d1, d2, dot / (n1.nrm * n2.nrm) AS sim, shared_terms,
         ROW_NUMBER() OVER (PARTITION BY d1
                            ORDER BY dot / (n1.nrm * n2.nrm) DESC, d2) AS rn
  FROM dots
  JOIN norms n1 ON n1.doc_id = d1
  JOIN norms n2 ON n2.doc_id = d2
)
WHERE rn <= {_SPARSE_TOP}
"""


@query("sim_sparse_tfidf", oracle=_SPARSE_ORACLE)
def sim_sparse_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_SPARSE_TOP} most similar documents per document by sparse
    TF-IDF cosine over the DISCRIMINATIVE term subspace (rational idf;
    terms with df <= {_SPARSE_DF_CAP}), candidates generated by an
    inverted-index self-join — the classic sparse-vector similarity
    engine (BM25/TF-IDF retrieval's scoring core) as a declarative
    plan, complementing the dense-embedding family (sim_topk/
    sim_lsh_ann/sim_ivf).

    Scale shape: the posting-list CAP is the whole game — joining on
    a stopword's posting list is |corpus|² ; capping df bounds
    per-token fanout at C({_SPARSE_DF_CAP},2) pairs, so the join is
    O(vocab · cap²) regardless of corpus size (the common-term mass
    that the cap drops is exactly the mass idf already downweights to
    noise). Norms are computed over the same subspace, so the metric
    is self-consistent. All sums ride the decimal accumulation policy
    for cross-engine bit-exactness."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.length("token") > 2)
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    w = (
        tf.join(df, "token")
        .filter(F.col("df") <= _SPARSE_DF_CAP)
        .join(F.broadcast(n))
        .select(
            "doc_id", "token", (F.col("tf") * (F.col("n_docs") / F.col("df"))).alias("w")
        )
    )

    def _psum(col):
        return F.sum(col.cast("decimal(18,6)")).cast("double")

    norms = w.groupBy("doc_id").agg(_psum(F.col("w") * F.col("w")).alias("sq"))
    norms = norms.select("doc_id", F.sqrt("sq").alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            _psum(F.col("a.w") * F.col("b.w")).alias("dot"),
            F.count(F.lit(1)).alias("shared_terms"),
        )
    )
    n1 = norms.select(F.col("doc_id").alias("d1"), F.col("nrm").alias("nrm1"))
    n2 = norms.select(F.col("doc_id").alias("d2"), F.col("nrm").alias("nrm2"))
    scored = (
        dots.join(n1, "d1")
        .join(n2, "d2")
        .select(
            "d1", "d2",
            (F.col("dot") / (F.col("nrm1") * F.col("nrm2"))).alias("sim"),
            "shared_terms",
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("d1").orderBy(F.desc("sim"), F.asc("d2"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= _SPARSE_TOP)
        .select("d1", "d2", "sim", "shared_terms")
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified retrieval: greedy
# re-rank of the top-N relevance pool balancing relevance against
# redundancy — the standard RAG/retrieval step after ANN. Score of a
# candidate at step t: λ·rel − (1−λ)·max_{s∈selected} sim(c, s);
# the first pick is the pure-relevance argmax (empty-set penalty 0).
#
# Scale shape: the expensive part is the relevance pass, which is
# exactly sim_topk's map-side broadcast-cosine (here one query, pool
# of _MMR_POOL). The greedy selection then runs over a CONSTANT-size
# pool as one collected-array expression (r13 — see the sim_mmr
# docstring); each of the K−1 steps is an argmax with on-the-fly
# pairwise cosines over that constant array — cost independent of
# corpus size by construction. Exact doubles:
# 0.5·x is exact scaling, and both engines evaluate the identical
# subtract/compare tree over the shared left-fold cosine.
# ---------------------------------------------------------------------------

_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA = 0.5  # exactly representable in binary; single source of truth
# for BOTH the relevance coefficient (λ) and the diversity penalty (1-λ),
# rendered identically into the oracle SQL and the Spark literals below so
# changing λ cannot silently diverge the two engines
_MMR_REL = repr(_MMR_LAMBDA)  # "0.5"
_MMR_PEN = repr(1.0 - _MMR_LAMBDA)  # "0.5" — true MMR (1-λ) penalty

def _mmr_oracle() -> str:
    base = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings
      WHERE vec_id >= {N_QUERIES}),
scored AS (SELECT cand_id, c_emb, {_sql_cosine("q_emb", "c_emb")} AS rel
           FROM c, q),
pool AS (SELECT cand_id, c_emb, rel FROM scored
         ORDER BY rel DESC, cand_id LIMIT {_MMR_POOL}),
pair AS (SELECT a.cand_id AS ia, b.cand_id AS ib,
                {_sql_cosine("a.c_emb", "b.c_emb")} AS s
         FROM pool a JOIN pool b ON a.cand_id != b.cand_id),
p1 AS (SELECT cand_id, rel, {_MMR_REL} * rel AS mmr, 1 AS rank
       FROM pool ORDER BY rel DESC, cand_id LIMIT 1),
s1 AS (SELECT cand_id FROM p1)"""
    for k in range(2, _MMR_K + 1):
        base += f""",
p{k} AS (
  SELECT c.cand_id, c.rel,
         {_MMR_REL} * c.rel - {_MMR_PEN} * MAX(p.s) AS mmr, {k} AS rank
  FROM pool c JOIN pair p ON p.ia = c.cand_id
       AND p.ib IN (SELECT cand_id FROM s{k - 1})
  WHERE c.cand_id NOT IN (SELECT cand_id FROM s{k - 1})
  GROUP BY c.cand_id, c.rel
  ORDER BY mmr DESC, c.cand_id LIMIT 1
),
s{k} AS (SELECT * FROM s{k - 1} UNION ALL SELECT cand_id FROM p{k})"""
    union = " UNION ALL ".join(f"SELECT * FROM p{k}" for k in range(1, _MMR_K + 1))
    return (
        base
        + f"""
SELECT CAST(rank AS INT) AS rank, cand_id, rel AS relevance, mmr AS mmr_score
FROM ({union})"""
    )


@query("sim_mmr", oracle=_mmr_oracle())
def sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR selection of _MMR_K diverse results from the top
    _MMR_POOL relevance pool for one query vector (λ = 0.5).

    r13: the pool is CONSTANT-size ({_MMR_POOL} rows), so the whole
    greedy selection runs as ONE expression over the collected pool
    array instead of the old unrolled union of {_MMR_K}−1 join +
    sort-limit subplans (121 single-task jobs measured; the pinned
    pool/pair relations and their build-time eager counts are gone
    with it). Each step recomputes the identical arithmetic: pick =
    argmax over non-selected pool entries of λ·rel − (1−λ)·max_{s∈sel}
    cos(emb, emb_s), ties to the smaller cand_id (the pool array is
    cid-sorted, so first-max-position IS the min-cid tie-break), with
    the same cosine_col expression per pair — results are bit-equal
    and the oracle is unchanged. At 100 TB only the relevance top-k
    touches the corpus, exactly as before."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    lam = F.lit(_MMR_LAMBDA)
    pen_coef = F.lit(1.0 - _MMR_LAMBDA)
    pool = (
        fan_out(c)
        .crossJoin(F.broadcast(q))
        .select("cand_id", "c_emb", cosine_col("q_emb", "c_emb").alias("rel"))
        .orderBy(F.col("rel").desc(), "cand_id")
        .limit(_MMR_POOL)
    )
    parr = pool.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cand_id").alias("cid"),
                    F.col("rel").alias("rel"),
                    F.col("c_emb").alias("emb"),
                )
            )
        ).alias("p")
    )

    def greedy(p: Column) -> Column:
        def first_pick(relarr: Column) -> Column:
            return _let(
                F.array_position(relarr, F.array_max(relarr)).cast("int"),
                lambda i1: F.array(
                    F.struct(
                        F.lit(1).alias("rank"),
                        i1.alias("idx"),
                        (lam * F.element_at(p, i1)["rel"]).alias("mmr"),
                    )
                ),
            )

        def mmr_scores(sel: Column) -> Column:
            return F.transform(
                p,
                lambda cand, j: F.when(
                    F.exists(sel, lambda s: s["idx"] == j + 1), F.lit(_NEG_COS)
                ).otherwise(
                    lam * cand["rel"]
                    - pen_coef
                    * F.array_max(
                        F.transform(
                            sel,
                            lambda s: cosine_col(
                                cand["emb"], F.element_at(p, s["idx"])["emb"]
                            ),
                        )
                    )
                ),
            )

        def step(sel: Column, k: Column) -> Column:
            return F.concat(
                sel,
                F.array(
                    _let(
                        mmr_scores(sel),
                        lambda marr: _let(
                            F.array_position(marr, F.array_max(marr)).cast("int"),
                            lambda pi: F.struct(
                                k.cast("int").alias("rank"),
                                pi.alias("idx"),
                                F.element_at(marr, pi).alias("mmr"),
                            ),
                        ),
                    )
                ),
            )

        return F.aggregate(
            F.sequence(F.lit(2), F.lit(_MMR_K)),
            _let(F.transform(p, lambda cand: cand["rel"]), first_pick),
            step,
        )

    out = parr.select("p", F.explode(_let(F.col("p"), greedy)).alias("x"))
    # Short-pool guard (r14/ADVICE): with fewer than _MMR_K pool
    # entries every candidate is eventually masked to the _NEG_COS
    # sentinel and the step re-picks an already-selected index at
    # mmr == _NEG_COS exactly; real scores are bounded far above it
    # (|rel|, |cos| <= 2 with the guard sentinel => mmr >= -2), so
    # dropping sentinel picks makes tiny corpora degrade to "fewer
    # rows" like the pre-r13 join/limit loop. No-op at normal scale.
    return out.filter(F.col("x.mmr") > F.lit(_NEG_COS)).select(
        F.col("x.rank").alias("rank"),
        F.element_at(F.col("p"), F.col("x.idx"))["cid"].alias("cand_id"),
        F.element_at(F.col("p"), F.col("x.idx"))["rel"].alias("relevance"),
        F.col("x.mmr").alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): split each vector into M contiguous
# subspaces, train a tiny codebook per subspace (Lloyd, same seed/
# assignment/update rules as kmeans_centroids), and encode every vector
# as M small codes. THE memory lever for billion-vector ANN: 64 floats
# become 4 bytes here (M codes), and asymmetric distance at query time
# is M table lookups. Jégou et al.'s public PQ formulation, re-expressed
# as DataFrame ops.
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUBDIM = DIM // _PQ_M
_PQ_K = 8  # codewords per subspace (tiny corpus; 256 in production)

# Shared CTE body: PQ training (one Lloyd round) + final assignment —
# used by the sim_pq_codes oracle and re-used (with an ADC search on
# top) by the ann_recall_at_k oracle.
_PQ_CTES = f"""e AS (SELECT vec_id, embedding FROM embeddings),
sub AS (
  SELECT vec_id, sp.s AS s,
         embedding[(sp.s * {_PQ_SUBDIM} + 1):((sp.s + 1) * {_PQ_SUBDIM})] AS sub
  FROM e, (SELECT unnest(range(0, {_PQ_M})) AS s) sp
),
seed AS (SELECT s, vec_id AS code_id, sub AS cent FROM sub WHERE vec_id < {_PQ_K}),
a1 AS (
  SELECT x.vec_id, x.s, x.sub, p.code_id,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                            ORDER BY {_sql_cosine("x.sub", "p.cent")} DESC,
                                     p.code_id) AS rn
  FROM sub x JOIN seed p ON x.s = p.s
),
u1 AS (
  SELECT s, code_id, d.dim,
         CAST(SUM(CAST(floor(CAST(sub[d.dim] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS value
  FROM a1, (SELECT unnest(range(1, {_PQ_SUBDIM} + 1)) AS dim) d
  WHERE rn = 1
  GROUP BY s, code_id, d.dim
),
c1 AS (SELECT s, code_id, list(value ORDER BY dim) AS cent FROM u1 GROUP BY s, code_id),
a2 AS (
  SELECT x.vec_id, x.s, p.code_id,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                            ORDER BY {_sql_cosine("x.sub", "p.cent")} DESC,
                                     p.code_id) AS rn
  FROM sub x JOIN c1 p ON x.s = p.s
)"""

_PQ_ORACLE = f"""
WITH {_PQ_CTES}
SELECT vec_id, CAST(s AS INT) AS subspace, CAST(code_id AS BIGINT) AS code
FROM a2 WHERE rn = 1
"""


@query("sim_pq_codes", oracle=_PQ_ORACLE)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding: {_PQ_M} subspaces × {_PQ_SUBDIM} dims, {_PQ_K}-entry
    codebook per subspace trained with one Lloyd round (seed = the
    vec_id < {_PQ_K} subvectors; assignment/update rules identical to
    kmeans_centroids so the exactness guarantees carry over: fixed-order
    cosine folds, fixed-point integer means). Output long-form
    (vec_id, subspace, code).

    Scale shape: the subspace explode is map-side ({_PQ_M}× row
    growth of SUBVECTORS, not full vectors — each carries DIM/{_PQ_M}
    floats, so byte volume is unchanged); both assignment passes are
    broadcast joins of {_PQ_M}×{_PQ_K}-row codebooks (map-side argmax,
    zero corpus shuffle); the update is one groupBy of
    {_PQ_M}×{_PQ_K}×{_PQ_SUBDIM} groups with map-side partials. The
    whole pipeline shuffles codebook-sized relations only — exactly the
    property that makes PQ trainable on a 100 TB vector corpus."""
    # r13: wide per-vector encode over LITERAL codebooks (see
    # _pq_codes_arr / _codebook_lits) — the old explode → join on s →
    # Window(vec_id, s) ranking exchanged and sorted m×N subvector
    # rows; this is a pure map over the scan.
    cbs = _codebook_lits(_pq_codebook_rows(spark, sf_dir), _PQ_M)
    emb = fan_out(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return (
        emb.select(
            "vec_id",
            F.explode(
                _pq_codes_arr(
                    F.col("embedding"), cbs, _PQ_M, _PQ_SUBDIM, cosine_from
                )
            ).alias("x"),
        )
        .select(
            "vec_id",
            F.col("x.s").cast("int").alias("subspace"),
            F.col("x.e.cid").cast("long").alias("code"),
        )
    )


# PQ twin of the trained-codebook memo: cent1 is a pure function of
# (corpus version, k) — M×k rows of subdim arrays, driver-tiny — and
# is consumed by sim_pq_codes, _pq_adc_topk, AND the IVF-PQ composition
# (three trainings of the identical pipeline per ann_recall_at_k run
# without it). Same sanctioned-artifact contract as _TRAINED_MEMO:
# values are bit-exact collected rows, so oracle hashes are unchanged.
_PQ_MEMO: dict[tuple, tuple] = {}


def _pq_fit_hit(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    m: int = _PQ_M,
    rounds: int = 1,
) -> tuple[DataFrame, tuple]:
    """PQ training shared by sim_pq_codes and the ADC search in
    ann_recall_at_k: returns (subvectors, trained codebook) after one
    Lloyd round — the Spark twin of the _PQ_CTES oracle body. ``k`` is
    the per-subspace codebook size (the recall knob — the registered
    queries pin the oracle's {_PQ_K}; tools/pq_recall_curve.py sweeps
    it and COVERAGE.md records the measured recall-vs-k curve).

    EAGER AT BUILD TIME: on a memo miss this function ``collect()``s the
    trained codebook (k·M rows) while the caller is still *constructing*
    its DataFrame — merely building any PQ-based plan (sim_pq_codes,
    sim_ivf_pq, sim_ivf_pq_residual, ann_recall_at_k) triggers one
    training job per corpus version. This is the sanctioned
    _TRAINED_MEMO pattern (a shared artifact, like a warm JIT —
    COVERAGE.md "bench honesty"): training cost is deliberately OUTSIDE
    the timed action, amortized across every consumer of the codebook.
    Callers that need lazy construction must pre-warm the memo.

    ``m``/``rounds`` (round-10 knobs, default = the registered oracle
    pins): subspace count and Lloyd rounds — the recall levers the
    frontier's tuned arm uses (VERDICT r9 #3). Each extra round is one
    more broadcast-assign + fixed-point update of the SAME shape, so
    exactness and scale properties are unchanged."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    version = _corpus_version(sf_dir)
    subdim = DIM // m
    memo = _PQ_MEMO.get((sf_dir, k, m, rounds, version))
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("embedding", s * subdim + 1, subdim).alias(
                            "sub"
                        ),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select(
        "vec_id", F.col("x.s").alias("s"), F.col("x.sub").alias("sub")
    ).withColumn("__snorm", norm_col("sub"))
    if memo is not None:
        return subs, memo

    cent = subs.filter(F.col("vec_id") < k).select(
        "s",
        F.col("vec_id").alias("code_id"),
        F.col("sub").alias("cent"),
        F.col("__snorm").alias("__bnorm"),
    )
    aw = Window.partitionBy("vec_id", "s").orderBy(
        F.desc(cosine_from(dot_col("sub", "cent"), "__snorm", "__bnorm")),
        F.asc("code_id"),
    )
    for _ in range(rounds):
        assigned = (
            subs.join(F.broadcast(cent), "s")
            .withColumn("rn", F.row_number().over(aw))
            .filter(F.col("rn") == 1)
            .select("s", "code_id", "sub")
        )
        ex = assigned.select(
            "s", "code_id", F.posexplode("sub").alias("pos", "val")
        ).select("s", "code_id", (F.col("pos") + 1).alias("dim"), "val")
        q = F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("long")
        upd = ex.groupBy("s", "code_id", "dim").agg(
            (
                F.sum(q).cast("double") / F.lit(1000000.0) / F.count(F.lit(1)).cast("double")
            ).alias("value")
        )
        cent = upd.groupBy("s", "code_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "value"))),
                lambda st: st["value"],
            ).alias("cent")
        ).withColumn("__bnorm", norm_col("cent"))
        # pin between rounds: round i+1 assigns against MATERIALIZED
        # round-i centroids (k*m rows), keeping the plan depth flat
        cent = spark.createDataFrame(cent.collect(), cent.schema)
    hit = (cent.schema, cent.collect())
    for stale in [
        mk for mk in _PQ_MEMO if mk[:4] == (sf_dir, k, m, rounds)
    ]:
        del _PQ_MEMO[stale]
    _PQ_MEMO[(sf_dir, k, m, rounds, version)] = hit
    return subs, hit


def _pq_codebook_rows(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    m: int = _PQ_M,
    rounds: int = 1,
):
    """The trained codebook's collected rows (s, code_id, cent,
    __bnorm) — trains via _pq_fit_hit on a memo miss and consumes the
    returned hit tuple directly (r14/ADVICE: re-deriving the memo key
    here raised KeyError when the corpus version moved — or stat
    failed — between training and lookup; threading the hit through
    cannot go stale)."""
    return _pq_fit_hit(spark, sf_dir, k=k, m=m, rounds=rounds)[1][1]


def _pq_recon(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    m: int = _PQ_M,
    rounds: int = 1,
) -> DataFrame:
    """(vec_id, recon) PQ reconstructions of the whole corpus: codes ⋈
    broadcast codebook, subspaces reassembled in order — the subtree
    shared by the ADC search and the IVF-PQ composition (ann_recall
    pins it so both arms reconstruct once)."""
    # r13: encode + reconstruct in ONE map-side expression over
    # LITERAL codebooks — the old form ranked m×N subvectors through a
    # Window exchange, joined the codebook back, and re-grouped by
    # vec_id to reassemble; the wide encode already holds the winning
    # codeword per subspace in s order, so flatten() IS the
    # reconstruction (zero exchange end to end).
    cbs = _codebook_lits(
        _pq_codebook_rows(spark, sf_dir, k=k, m=m, rounds=rounds), m
    )
    emb = fan_out(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    subdim = DIM // m
    return emb.select(
        "vec_id",
        F.flatten(
            F.transform(
                _pq_codes_arr(F.col("embedding"), cbs, m, subdim, cosine_from),
                lambda x: x["e"]["cent"],
            )
        ).alias("recon"),
    )


def _pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    n_queries: int = N_QUERIES,
    recon: DataFrame | None = None,
    m: int = _PQ_M,
    rounds: int = 1,
) -> DataFrame:
    """PQ search: candidates are represented ONLY by their codes —
    each is reconstructed as the concatenation of its per-subspace
    codewords, and ranked by cosine(query, reconstruction) (equivalent
    to asymmetric-distance computation: dot(q, recon) decomposes into
    per-subspace codeword dots). Same shape as sim_topk with the
    reconstruction join in front: codes ⋈ broadcast codebook, then
    broadcast queries × map-side cosine → per-query top-k window."""
    if recon is None:
        recon = _pq_recon(spark, sf_dir, k=k, m=m, rounds=rounds)
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm_col("embedding").alias("q_norm"),
        )
    )
    cands = recon.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("cand_id"),
        F.col("recon").alias("c_emb"),
        # zero-recon guard ONCE per candidate (see safe_norm)
        safe_norm(norm_col("recon")).alias("c_norm"),
    )
    scored = F.broadcast(queries).crossJoin(cands).select(
        "query_id",
        "cand_id",
        cosine_from_cguard(
            dot_col("q_emb", "c_emb"), "q_norm", "c_norm"
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


_RECALL_PQ_SEARCH = f"""
pq_codes AS (SELECT vec_id, s, code_id FROM a2 WHERE rn = 1),
pq_recon AS (
  SELECT c.vec_id, flatten(list(b.cent ORDER BY c.s)) AS recon
  FROM pq_codes c JOIN c1 b ON c.s = b.s AND c.code_id = b.code_id
  GROUP BY c.vec_id
),
pq_q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
         WHERE vec_id < {N_QUERIES}),
pq_c AS (SELECT vec_id AS cand_id, recon AS c_emb FROM pq_recon
         WHERE vec_id >= {N_QUERIES}),
pq_ann AS (
  /* candidate-guarded cosine over reconstructions (_pq_adc_topk twin) */
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_sql_cosine_cguard("q_emb", "c_emb")} DESC,
                                       cand_id) AS rn
    FROM pq_q CROSS JOIN pq_c
  ) WHERE rn <= {TOP_K}
)"""


# --- IVF-PQ: the composed production ANN route ----------------------------
# Coarse quantizer prunes the candidate set (nprobe=2 cells per query);
# PQ asymmetric-distance scoring ranks WITHIN the probed cells, so the
# search touches codes, never raw candidate vectors. This is the
# standard FAISS IVFPQ composition (Jégou et al., TPAMI 2011), minus
# residual encoding: we PQ-encode raw vectors, not (vec − centroid)
# residuals, because the residual subtraction would reintroduce
# engine-ordered float arithmetic into the trained codebook. The
# residual variant is the documented production upgrade — same plan
# shape, one extra broadcast join against the coarse centroids.

_IVF_PQ_ORACLE = f"""
WITH {_PQ_CTES},
{_RECALL_PQ_SEARCH},
ivf_cent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings
             WHERE vec_id < {N_CENTROIDS}),
ivf_assign AS (
  SELECT vec_id, embedding, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_sql_cosine("embedding", "cent_emb")} DESC,
                                     centroid_id) AS rn
  FROM embeddings CROSS JOIN ivf_cent
),
ivf_q AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
          FROM ivf_assign WHERE vec_id < {N_QUERIES} AND rn <= {_IVF_NPROBE}),
ivf_c AS (
  SELECT a.vec_id AS cand_id, r.recon AS c_emb, a.centroid_id
  FROM ivf_assign a JOIN pq_recon r ON r.vec_id = a.vec_id
  WHERE a.vec_id >= {N_QUERIES} AND a.rn = 1
),
ivf_scored AS (
  /* candidate-guarded cosine over PQ reconstructions (zero-recon ->
     -2.0 sentinel), mirroring safe_norm + cosine_from_cguard */
  SELECT query_id, cand_id, {_sql_cosine_cguard("q_emb", "c_emb")} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_sql_cosine_cguard("q_emb", "c_emb")} DESC,
                                     cand_id) AS rn
  FROM ivf_q JOIN ivf_c USING (centroid_id)
)
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM ivf_scored WHERE rn <= {TOP_K}
"""


@query("sim_ivf_pq", oracle=_IVF_PQ_ORACLE)
def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(nprobe={_IVF_NPROBE}) coarse pruning + PQ asymmetric-distance
    scoring: queries probe their {_IVF_NPROBE} nearest cells, and
    candidates inside those cells are ranked by cosine(query,
    PQ-reconstruction) — the candidate's raw vector is never read at
    search time, only its {_PQ_M}-byte code.

    Scale shape: the coarse assignment is a broadcast argmax (zero
    corpus shuffle), PQ training/encoding shuffles codebook-sized
    relations only (see sim_pq_codes), the reconstruction join is
    codes ⋈ broadcast codebook, and the search is one equi-join on
    centroid_id with the broadcast-small probed query side — at 100 TB
    the inverted lists are the partitioning, and memory holds M-byte
    codes instead of DIM floats (16× compression here, 64-to-4)."""
    return _ivf_pq_topk(spark, sf_dir)


def _ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    n_queries: int = N_QUERIES,
    assign: DataFrame | None = None,
    recon: DataFrame | None = None,
    nprobe: int = _IVF_NPROBE,
) -> DataFrame:
    """Parametrizable IVF-PQ core (``k`` = per-subspace codebook size,
    the recall knob; ``n_queries`` widens the evaluation query set).
    The registered ``sim_ivf_pq`` pins the oracle's knobs;
    tools/pq_recall_curve.py sweeps this directly, and ann_recall_at_k
    passes pinned ``assign``/``recon`` so its arms share them."""
    if assign is None:
        assign = _coarse_assign(spark, sf_dir)
    if recon is None:
        recon = _pq_recon(spark, sf_dir, k=k)
    q = assign.filter(
        (F.col("vec_id") < n_queries) & (F.col("rn") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "centroid_id",
        norm_col("embedding").alias("q_norm"),
    )
    c = (
        assign.filter((F.col("vec_id") >= n_queries) & (F.col("rn") == 1))
        .select(F.col("vec_id").alias("cand_id"), "centroid_id")
        .join(recon.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .select(
            "cand_id",
            "centroid_id",
            F.col("recon").alias("c_emb"),
            # zero-recon guard: a trained codeword mean can degenerate
            # to the zero vector; unguarded 0/0 is an ANSI error in
            # Spark and NaN-with-engine-specific-ordering in DuckDB.
            # Guarded ONCE per candidate (safe_norm), folded to the
            # -2.0 sentinel at pair time (cosine_from_cguard) — the
            # per-pair CASE form measured ~1.5x on this scoring fold.
            safe_norm(norm_col("recon")).alias("c_norm"),
        )
    )
    scored = F.broadcast(q).join(c, "centroid_id").select(
        "query_id",
        "cand_id",
        cosine_from_cguard(
            dot_col("q_emb", "c_emb"), "q_norm", "c_norm"
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


_PQ_RES_CTES = f"""
icent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings
          WHERE vec_id < {N_CENTROIDS}),
iassign AS (
  SELECT vec_id, embedding, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_sql_cosine("embedding", "cent_emb")} DESC,
                                     centroid_id) AS rn
  FROM embeddings CROSS JOIN icent
),
res AS (
  SELECT a.vec_id, a.centroid_id,
         list_transform(list_zip(a.embedding, ic.cent_emb),
                        p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
  FROM iassign a JOIN icent ic ON ic.centroid_id = a.centroid_id
  WHERE a.rn = 1 AND a.vec_id >= {N_QUERIES}
),
rsub AS (
  SELECT vec_id, sp.s AS s,
         rv[(sp.s * {_PQ_SUBDIM} + 1):((sp.s + 1) * {_PQ_SUBDIM})] AS sub
  FROM res, (SELECT unnest(range(0, {_PQ_M})) AS s) sp
),
rseed AS (SELECT s, vec_id AS code_id, sub AS cent FROM rsub
          WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES} + {_PQ_K}),
ra1 AS (
  SELECT x.vec_id, x.s, x.sub, p.code_id,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                            ORDER BY {_sql_cosine_safe("x.sub", "p.cent")} DESC,
                                     p.code_id) AS rn
  FROM rsub x JOIN rseed p ON x.s = p.s
),
ru1 AS (
  SELECT s, code_id, d.dim,
         CAST(SUM(CAST(floor(CAST(sub[d.dim] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS value
  FROM ra1, (SELECT unnest(range(1, {_PQ_SUBDIM} + 1)) AS dim) d
  WHERE rn = 1
  GROUP BY s, code_id, d.dim
),
rc1 AS (SELECT s, code_id, list(value ORDER BY dim) AS cent FROM ru1 GROUP BY s, code_id),
ra2 AS (
  SELECT x.vec_id, x.s, p.code_id,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                            ORDER BY {_sql_cosine_safe("x.sub", "p.cent")} DESC,
                                     p.code_id) AS rn
  FROM rsub x JOIN rc1 p ON x.s = p.s
),
rrecon AS (
  SELECT c.vec_id, flatten(list(b.cent ORDER BY c.s)) AS recon
  FROM (SELECT vec_id, s, code_id FROM ra2 WHERE rn = 1) c
  JOIN rc1 b ON c.s = b.s AND c.code_id = b.code_id
  GROUP BY c.vec_id
),
reconf AS (
  SELECT rr.vec_id, rs.centroid_id,
         list_transform(list_zip(ic.cent_emb, rr.recon),
                        p -> CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)) AS femb
  FROM rrecon rr
  JOIN res rs ON rs.vec_id = rr.vec_id
  JOIN icent ic ON ic.centroid_id = rs.centroid_id
)"""

_IVF_PQ_RES_ORACLE = f"""
WITH {_PQ_RES_CTES},
rq AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
       FROM iassign WHERE vec_id < {N_QUERIES} AND rn <= {_IVF_NPROBE}),
rcand AS (SELECT vec_id AS cand_id, femb AS c_emb, centroid_id FROM reconf),
rscored AS (
  SELECT query_id, cand_id, {_sql_cosine("q_emb", "c_emb")} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_sql_cosine("q_emb", "c_emb")} DESC,
                                     cand_id) AS rn
  FROM rq JOIN rcand USING (centroid_id)
)
SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
FROM rscored WHERE rn <= {TOP_K}
"""



# Tuned PQ arm (VERDICT r9 #3): the (m, k, rounds) point the
# tools/pq_tune_probe.py sweep found clearing recall@5 >= 0.5 at BOTH
# fixture SFs — m=16 subspaces (subdim 4), k=128 codewords, 2 Lloyd
# rounds: measured 0.616 @ sf0.01 / 0.503 @ sf0.1 at 14 code bytes per
# vector = 18x compression vs float32 (the default 4x8 arm is 171x
# compressed but 0.078/0.050 — the frontier now charts both ends of
# the compression-recall trade). Near-isotropic synthetic embeddings
# make rotation (OPQ) a no-op here — variance is already balanced
# across subspaces; the granularity axis (m) is the lever that pays.
_PQ_TUNED_M = 16
_PQ_TUNED_K = 128
_PQ_TUNED_ROUNDS = 2


def _pq_tuned_ctes_sql(p: str = "tq") -> str:
    """Prefixed PQ-train + ADC-search CTE chain for the tuned arm —
    the _PQ_CTES/_RECALL_PQ_SEARCH pipeline generalized to
    (m, k, rounds) = ({_PQ_TUNED_M}, {_PQ_TUNED_K}, {_PQ_TUNED_ROUNDS})
    with {p}-prefixed names so it composes into the frontier oracle's
    WITH next to the default-arm CTEs."""
    m, k, rounds = _PQ_TUNED_M, _PQ_TUNED_K, _PQ_TUNED_ROUNDS
    subdim = DIM // m
    parts = [f"""{p}sub AS (
  SELECT vec_id, sp.s AS s,
         embedding[(sp.s * {subdim} + 1):((sp.s + 1) * {subdim})] AS sub
  FROM e, (SELECT unnest(range(0, {m})) AS s) sp
),
{p}c0 AS (SELECT s, vec_id AS code_id, sub AS cent FROM {p}sub WHERE vec_id < {k})"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
{p}a{i} AS (
  SELECT x.vec_id, x.s, x.sub, p.code_id,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                            ORDER BY {_sql_cosine("x.sub", "p.cent")} DESC,
                                     p.code_id) AS rn
  FROM {p}sub x JOIN {p}c{i - 1} p ON x.s = p.s
),
{p}u{i} AS (
  SELECT s, code_id, d.dim,
         CAST(SUM(CAST(floor(CAST(sub[d.dim] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS value
  FROM {p}a{i}, (SELECT unnest(range(1, {subdim} + 1)) AS dim) d
  WHERE rn = 1
  GROUP BY s, code_id, d.dim
),
{p}c{i} AS (SELECT s, code_id, list(value ORDER BY dim) AS cent FROM {p}u{i} GROUP BY s, code_id)""")
    parts.append(f""",
{p}af AS (
  SELECT x.vec_id, x.s, p.code_id,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                            ORDER BY {_sql_cosine("x.sub", "p.cent")} DESC,
                                     p.code_id) AS rn
  FROM {p}sub x JOIN {p}c{rounds} p ON x.s = p.s
),
{p}codes AS (SELECT vec_id, s, code_id FROM {p}af WHERE rn = 1),
{p}recon AS (
  SELECT c.vec_id, flatten(list(b.cent ORDER BY c.s)) AS recon
  FROM {p}codes c JOIN {p}c{rounds} b ON c.s = b.s AND c.code_id = b.code_id
  GROUP BY c.vec_id
),
{p}q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
         WHERE vec_id < {N_QUERIES}),
{p}cands AS (SELECT vec_id AS cand_id, recon AS c_emb FROM {p}recon
             WHERE vec_id >= {N_QUERIES}),
{p}ann AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_sql_cosine_cguard("q_emb", "c_emb")} DESC,
                                       cand_id) AS rn
    FROM {p}q CROSS JOIN {p}cands
  ) WHERE rn <= {TOP_K}
)""")
    return "".join(parts)


def _recall_oracle() -> str:
    routes = {
        "lsh_ann": f"(SELECT query_id, cand_id FROM ({_LSH_ORACLE}) t)",
        "lsh_multiprobe": f"(SELECT query_id, cand_id FROM ({_MULTIPROBE_ORACLE}) t)",
        "ivf": f"(SELECT query_id, cand_id FROM ({_IVF_ORACLE}) t)",
        "ivf_nprobe2": f"(SELECT query_id, cand_id FROM ({_IVF_NPROBE2_ORACLE}) t)",
        "pq_adc": "(SELECT query_id, cand_id FROM pq_ann)",
        "ivf_pq": f"(SELECT query_id, cand_id FROM ({_IVF_PQ_ORACLE}) t)",
        "ivf_pq_res": f"(SELECT query_id, cand_id FROM ({_IVF_PQ_RES_ORACLE}) t)",
        "pq_tuned": "(SELECT query_id, cand_id FROM tqann)",
    }
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS route,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
        JOIN {src} r ON e.query_id = r.query_id AND e.cand_id = r.cand_id)
           AS hits
  FROM (SELECT 1)"""
        for name, src in routes.items()
    )
    return f"""
WITH {_PQ_CTES},
{_RECALL_PQ_SEARCH},
{_pq_tuned_ctes_sql("tq")},
exact AS (SELECT query_id, cand_id FROM ({_TOPK_ORACLE}) t),
expected AS (SELECT CAST(COUNT(*) AS BIGINT) AS expected FROM exact),
arms AS ({arms})
SELECT route, hits, expected,
       CAST(hits AS DOUBLE) / CAST(expected AS DOUBLE) AS recall
FROM arms CROSS JOIN expected
"""


@query("ann_recall_at_k", oracle=_recall_oracle())
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of every approximate-NN route against the exact
    brute-force ground truth (sim_topk): |ANN∩exact| / |exact| over the
    {N_QUERIES}-query evaluation set — the measurement that converts
    "the ANN runs" into "the ANN works". Routes: sign-random-projection
    LSH (sim_lsh_ann), IVF nprobe=1 (sim_ivf), and PQ asymmetric-
    distance search over the trained {_PQ_M}×{_PQ_K} codebook
    (_pq_adc_topk). sim_sparse_tfidf is deliberately absent: within
    its self-consistent df-capped metric the inverted-index join is
    candidate-complete (any shared term yields the pair), so recall
    against its own metric is 1.0 by construction — there is no
    algorithmic approximation to measure.

    Scale shape: each route is its own (already scale-shaped) plan;
    the recall join intersects two |Q|×k pair sets — broadcast-sized
    by construction — and the output is one row per route. Ties in
    every top-k are broken by cand_id in both engines, so the pair
    sets (and therefore recall) are deterministic and hash-exact."""
    # r14: pin the brute-force truth set too — it feeds one semi-join
    # per route PLUS the expected count, and without the pin every
    # consumer re-ran the full corpus scan + cosine fold + top-k
    # (9 evaluations of the most expensive subtree in the query).
    exact = (
        sim_topk(spark, sf_dir)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=False)
    )
    expected = exact.agg(F.count(F.lit(1)).cast("long").alias("expected"))
    # shared artifacts, LAZY-pinned (work still happens inside the one
    # timed action): the coarse assignment feeds three arms and the PQ
    # reconstruction two — without the pins each arm re-evaluates its
    # own copy of the identical subtree (measured 1.9s -> 6s+ when the
    # sixth arm landed; the pins restore arm-count-linear cost)
    assign = _coarse_assign(spark, sf_dir).localCheckpoint(eager=False)
    recon = _pq_recon(spark, sf_dir).localCheckpoint(eager=False)
    recon_tuned = _pq_recon(
        spark, sf_dir, k=_PQ_TUNED_K, m=_PQ_TUNED_M, rounds=_PQ_TUNED_ROUNDS
    ).localCheckpoint(eager=False)
    routes = {
        "lsh_ann": lambda s, d: sim_lsh_ann(s, d),
        "lsh_multiprobe": lambda s, d: sim_lsh_multiprobe(s, d),
        "ivf": lambda s, d: _ivf_topk(s, d, nprobe=1, assign=assign),
        "ivf_nprobe2": lambda s, d: _ivf_topk(
            s, d, nprobe=_IVF_NPROBE, assign=assign
        ),
        "pq_adc": lambda s, d: _pq_adc_topk(s, d, recon=recon),
        "ivf_pq": lambda s, d: _ivf_pq_topk(s, d, assign=assign, recon=recon),
        "ivf_pq_res": lambda s, d: _ivf_pq_res_topk(s, d, assign=assign),
        "pq_tuned": lambda s, d: _pq_adc_topk(s, d, recon=recon_tuned),
    }
    arms = []
    for name, fn in routes.items():
        ann = fn(spark, sf_dir).select("query_id", "cand_id")
        hits = (
            exact.join(ann, ["query_id", "cand_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(name).alias("route"), "hits")
        )
        arms.append(hits)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.crossJoin(F.broadcast(expected)).select(
        "route",
        "hits",
        "expected",
        (F.col("hits").cast("double") / F.col("expected").cast("double")).alias(
            "recall"
        ),
    )


# ---------------------------------------------------------------------------
# ANN frontier: recall AND its price, in one oracle-checked table.
# ann_recall_at_k says how good each route is; this says what each
# recall point COSTS — the number of exactly-scored candidate pairs the
# route generates before its top-k. Together they are the
# recall-vs-candidate-volume frontier (VERDICT r8 prescription #5); the
# knob sweep behind the registered points lives in
# tools/ann_frontier_sweep.py and COVERAGE.md's frontier table.
# Headline: IVF nprobe=2 reaches recall 0.925 at 24.7% of the
# brute-force candidate volume on the fixture (nprobe is the production
# recall knob — the sweep's measured curve is 0.900/0.925/0.950 at
# 1/2/4 probes of {N_CENTROIDS} cells).
# ---------------------------------------------------------------------------


def _frontier_oracle() -> str:
    hit_src = {
        "brute_force": "(SELECT query_id, cand_id FROM exact)",
        "lsh_ann": f"(SELECT query_id, cand_id FROM ({_LSH_ORACLE}) t)",
        "lsh_multiprobe": f"(SELECT query_id, cand_id FROM ({_MULTIPROBE_ORACLE}) t)",
        "ivf": f"(SELECT query_id, cand_id FROM ({_IVF_ORACLE}) t)",
        "ivf_nprobe2": f"(SELECT query_id, cand_id FROM ({_IVF_NPROBE2_ORACLE}) t)",
        "pq_adc": "(SELECT query_id, cand_id FROM pq_ann)",
        "ivf_pq": f"(SELECT query_id, cand_id FROM ({_IVF_PQ_ORACLE}) t)",
        "ivf_pq_res": f"(SELECT query_id, cand_id FROM ({_IVF_PQ_RES_ORACLE}) t)",
        "pq_tuned": "(SELECT query_id, cand_id FROM tqann)",
    }
    # exactly-scored candidate pairs per route, over shared fb (LSH
    # signatures) / fassign (IVF coarse cells) CTEs
    full = "(SELECT (SELECT COUNT(*) FROM fqids) * (SELECT COUNT(*) FROM fcids))"
    ivf_cand = (
        "(SELECT COUNT(*) FROM "
        "(SELECT centroid_id FROM fassign WHERE vec_id < {nq} AND rn <= {np}) a "
        "JOIN (SELECT centroid_id FROM fassign WHERE vec_id >= {nq} AND rn = 1) b "
        "USING (centroid_id))"
    )
    cand_src = {
        "brute_force": full,
        "lsh_ann": (
            "(SELECT COUNT(*) FROM "
            f"(SELECT bucket FROM fb WHERE vec_id < {N_QUERIES}) a "
            f"JOIN (SELECT bucket FROM fb WHERE vec_id >= {N_QUERIES}) b "
            "USING (bucket))"
        ),
        "lsh_multiprobe": (
            "(SELECT COUNT(*) FROM fprobe a "
            f"JOIN (SELECT bucket FROM fb WHERE vec_id >= {N_QUERIES}) b "
            "USING (bucket))"
        ),
        "ivf": ivf_cand.format(nq=N_QUERIES, np=1),
        "ivf_nprobe2": ivf_cand.format(nq=N_QUERIES, np=_IVF_NPROBE),
        "pq_adc": full,  # ADC rescans the whole corpus as codes
        "ivf_pq": ivf_cand.format(nq=N_QUERIES, np=_IVF_NPROBE),
        "ivf_pq_res": ivf_cand.format(nq=N_QUERIES, np=_IVF_NPROBE),
        "pq_tuned": full,  # ADC rescans the whole corpus as tuned codes
    }
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS route,
       CAST({cand_src[name]} AS BIGINT) AS candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
        JOIN {src} r ON e.query_id = r.query_id AND e.cand_id = r.cand_id)
           AS hits
  FROM (SELECT 1)"""
        for name, src in hit_src.items()
    )
    return f"""
WITH {_PQ_CTES},
{_RECALL_PQ_SEARCH},
{_pq_tuned_ctes_sql("tq")},
exact AS (SELECT query_id, cand_id FROM ({_TOPK_ORACLE}) t),
expected AS (SELECT CAST(COUNT(*) AS BIGINT) AS expected FROM exact),
fqids AS (SELECT vec_id FROM embeddings WHERE vec_id < {N_QUERIES}),
fcids AS (SELECT vec_id FROM embeddings WHERE vec_id >= {N_QUERIES}),
fb AS (SELECT vec_id, {_sql_bucket("embedding")} AS bucket FROM embeddings),
fprobe AS (
  SELECT vec_id,
         CASE WHEN j = 0 THEN bucket
              ELSE xor(bucket, CAST(2 ** (j - 1) AS INTEGER)) END AS bucket
  FROM fb CROSS JOIN (SELECT unnest(range(0, {N_BITS + 1})) AS j) pj
  WHERE vec_id < {N_QUERIES}
),
fcent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings
          WHERE vec_id < {N_CENTROIDS}),
fassign AS (
  SELECT vec_id, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_sql_cosine("embedding", "cent_emb")} DESC,
                                     centroid_id) AS rn
  FROM embeddings CROSS JOIN fcent
),
arms AS ({arms})
SELECT route, candidates, hits, expected,
       CAST(hits AS DOUBLE) / CAST(expected AS DOUBLE) AS recall
FROM arms CROSS JOIN expected
"""


@query("ann_recall_frontier", oracle=_frontier_oracle())
def ann_recall_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-candidate-volume frontier over every ANN route:
    per route, the exactly-scored candidate-pair count (the work) and
    recall@{TOP_K} vs brute force (the quality), one row per route
    including the brute-force anchor (recall 1.0 at |Q|×|C|).

    Fixture frontier (sf0.01): ivf_nprobe2 reaches recall 0.925 at
    24.7% of brute-force volume and ivf 0.900 at 12.5% — IVF's
    ``nprobe`` is the production recall knob and already clears the
    ≥0.8 bar; the LSH points (0.175 single-probe at 7%, 0.500
    multiprobe at ~35%) and the PQ family chart the compression end:
    the default {_PQ_M}×{_PQ_K} arm is 171× compressed at recall
    0.078-0.225 (the cost of never touching raw vectors), and the
    TUNED arm ({_PQ_TUNED_M}×{_PQ_TUNED_K}, {_PQ_TUNED_ROUNDS} Lloyd
    rounds) reaches recall@5 0.616 (sf0.01) / 0.503 (sf0.1) at 18×
    compression — the r9 prescription's ≥0.5 bar, with the granularity
    axis (m) as the lever since rotation is a no-op on near-isotropic
    fixtures. tools/ann_frontier_sweep.py and tools/pq_tune_probe.py
    sweep the knobs behind these registered points.

    Scale shape: candidate counts are aggregates over the SAME shared
    subtrees the searches use (bucket join, coarse-cell join) — no new
    pair enumeration; every count is one map-side-combined COUNT(*)."""
    # r14: pin the truth set (10 consumers: 9 route semi-joins + the
    # expected count — each re-ran the full brute-force scan+fold+top-k
    # without the pin) and the signature relation below (3 count
    # subtrees), same rationale as the assign/recon pins.
    exact = (
        sim_topk(spark, sf_dir)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=False)
    )
    expected = exact.agg(F.count(F.lit(1)).cast("long").alias("expected"))
    assign = _coarse_assign(spark, sf_dir).localCheckpoint(eager=False)
    recon = _pq_recon(spark, sf_dir).localCheckpoint(eager=False)
    recon_tuned = _pq_recon(
        spark, sf_dir, k=_PQ_TUNED_K, m=_PQ_TUNED_M, rounds=_PQ_TUNED_ROUNDS
    ).localCheckpoint(eager=False)
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    b = emb.select(
        "vec_id", bucket_col("embedding").alias("bucket")
    ).localCheckpoint(eager=False)
    bq = b.filter(F.col("vec_id") < N_QUERIES)
    bc = b.filter(F.col("vec_id") >= N_QUERIES)
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("int")
            for j in range(N_BITS)
        ],
    )
    bprobe = bq.select("vec_id", F.explode(probes).alias("bucket"))
    nq_df = emb.filter(F.col("vec_id") < N_QUERIES).agg(
        F.count(F.lit(1)).cast("long").alias("__nq")
    )
    nc_df = emb.filter(F.col("vec_id") >= N_QUERIES).agg(
        F.count(F.lit(1)).cast("long").alias("__nc")
    )
    full_cand = nq_df.crossJoin(nc_df).select(
        (F.col("__nq") * F.col("__nc")).alias("candidates")
    )

    def ivf_cand(np: int) -> DataFrame:
        a = assign.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= np)).select(
            "centroid_id"
        )
        c = assign.filter((F.col("vec_id") >= N_QUERIES) & (F.col("rn") == 1)).select(
            "centroid_id"
        )
        return a.join(c, "centroid_id").agg(
            F.count(F.lit(1)).cast("long").alias("candidates")
        )

    def join_cand(a: DataFrame, c: DataFrame) -> DataFrame:
        return a.join(c, "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("candidates")
        )

    routes: dict[str, tuple] = {
        "brute_force": (lambda s, d: sim_topk(s, d), full_cand),
        "lsh_ann": (lambda s, d: sim_lsh_ann(s, d), join_cand(bq, bc)),
        "lsh_multiprobe": (
            lambda s, d: sim_lsh_multiprobe(s, d),
            join_cand(bprobe, bc),
        ),
        "ivf": (lambda s, d: _ivf_topk(s, d, nprobe=1, assign=assign), ivf_cand(1)),
        "ivf_nprobe2": (
            lambda s, d: _ivf_topk(s, d, nprobe=_IVF_NPROBE, assign=assign),
            ivf_cand(_IVF_NPROBE),
        ),
        "pq_adc": (lambda s, d: _pq_adc_topk(s, d, recon=recon), full_cand),
        "ivf_pq": (
            lambda s, d: _ivf_pq_topk(s, d, assign=assign, recon=recon),
            ivf_cand(_IVF_NPROBE),
        ),
        "ivf_pq_res": (
            lambda s, d: _ivf_pq_res_topk(s, d, assign=assign),
            ivf_cand(_IVF_NPROBE),
        ),
        # the tuned compression-recall point: 16x128x2-round PQ, 18x
        # compression, recall@5 0.616/0.503 at sf0.01/0.1 (see
        # _PQ_TUNED_* rationale above)
        "pq_tuned": (lambda s, d: _pq_adc_topk(s, d, recon=recon_tuned), full_cand),
    }
    arms = []
    for name, (fn, cand) in routes.items():
        ann = fn(spark, sf_dir).select("query_id", "cand_id")
        hits = (
            exact.join(ann, ["query_id", "cand_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
        )
        arms.append(
            hits.crossJoin(F.broadcast(cand)).select(
                F.lit(name).alias("route"), "candidates", "hits"
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.crossJoin(F.broadcast(expected)).select(
        "route",
        "candidates",
        "hits",
        "expected",
        (F.col("hits").cast("double") / F.col("expected").cast("double")).alias(
            "recall"
        ),
    )


# ---------------------------------------------------------------------------
# Retrieval + clustering evaluation: the measurement half of an
# embedding pipeline. MRR avoids logarithms (1/rank is exact integer
# division in doubles, deterministic IEEE in both engines — NDCG's log2
# drifts a ulp between Java and DuckDB libm, see the verify notes), and
# purity is a pure count ratio.
# ---------------------------------------------------------------------------

_MRR_NQ = 32  # evaluation query set: vec_id < _MRR_NQ
_MRR_K = 10  # judged depth


_MRR_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel FROM e
      WHERE vec_id < {_MRR_NQ}),
ranked AS (
  SELECT q.qid, q.qlabel, e.label,
         ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY {_sql_cosine("e.embedding", "q.qv")} DESC,
                                     e.vec_id) AS rnk
  FROM q JOIN e ON e.vec_id != q.qid
)
SELECT qid, qlabel,
       CAST(MIN(CASE WHEN label = qlabel THEN rnk END) AS BIGINT) AS first_hit_rank,
       COALESCE(1.0 / CAST(MIN(CASE WHEN label = qlabel THEN rnk END) AS DOUBLE),
                0.0) AS rr
FROM ranked
WHERE rnk <= {_MRR_K}
GROUP BY qid, qlabel
"""


@query("eval_retrieval_mrr", oracle=_MRR_ORACLE)
def eval_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the embedding space: for each of the
    {_MRR_NQ} evaluation queries, the rank of the first same-label
    neighbor within the top-{_MRR_K} (cosine, self excluded) and its
    reciprocal — per-query rows; MRR is their mean, left to the caller
    so the result stays hash-stable row-wise.

    Scale shape: the query set broadcasts (evaluation sets are small by
    construction); ranking is a per-qid window with
    WindowGroupLimit pushing the top-{_MRR_K} cut into each partition
    before the shuffle — the same partial-top-k plan as sim_topk, so
    judged depth bounds the shuffle, not corpus size."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "label", norm_col("embedding").alias("e_norm")
    )
    q = emb.filter(F.col("vec_id") < _MRR_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
        F.col("e_norm").alias("q_norm"),
    )
    # norms precomputed once per vector map-side: each pair evaluates
    # ONE fold (the cross dot), not three — same bits, 3× less fold work
    cos = cosine_from(dot_col("embedding", "qv"), "e_norm", "q_norm")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    ranked = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _MRR_K)
    )
    hit = F.min(F.when(F.col("label") == F.col("qlabel"), F.col("rnk")))
    return ranked.groupBy("qid", "qlabel").agg(
        hit.cast("long").alias("first_hit_rank"),
        F.coalesce(F.lit(1.0) / hit.cast("double"), F.lit(0.0)).alias("rr"),
    )


_PURITY_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
c AS (SELECT vec_id AS centroid_id, embedding AS cent FROM e
      WHERE vec_id < {N_CENTROIDS}),
a AS (
  SELECT e.vec_id, e.label, c.centroid_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cosine("e.embedding", "c.cent")} DESC,
                                     c.centroid_id) AS rn
  FROM e CROSS JOIN c
),
m AS (
  SELECT centroid_id, label, COUNT(*) AS n
  FROM a WHERE rn = 1 GROUP BY centroid_id, label
),
t AS (
  SELECT centroid_id, label, n,
         SUM(n) OVER (PARTITION BY centroid_id) AS total,
         ROW_NUMBER() OVER (PARTITION BY centroid_id
                            ORDER BY n DESC, label) AS rn
  FROM m
)
SELECT centroid_id,
       CAST(total AS BIGINT) AS n_members,
       CAST(label AS INT) AS majority_label,
       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS purity
FROM t WHERE rn = 1
"""


@query("eval_cluster_purity", oracle=_PURITY_ORACLE)
def eval_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-label agreement of the IVF coarse partitioning: assign
    every vector to its nearest seed centroid (sim_ivf's argmax rule),
    then per cluster report size, majority label, and purity
    (majority share) — the standard unsupervised-vs-ground-truth
    diagnostic.

    Scale shape: assignment is the broadcast argmax (zero corpus
    shuffle); the purity rollup runs over the (centroid, label) grid —
    K×|labels| rows — after map-side partials."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "label", norm_col("embedding").alias("__enorm")
    )
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent"),
        F.col("__enorm").alias("__cnorm"),
    )
    # r13: map-side argmax fold (see _assign) — no Window shuffle of
    # the K×N crossJoin; identical cosine + tie-break, zero exchange.
    carr = _cand_arr(cent, "centroid_id", "cent", "__cnorm")
    assigned = emb.crossJoin(F.broadcast(carr)).select(
        F.element_at(
            F.col("cands"),
            argmax_cosine(F.col("embedding"), F.col("__enorm"), F.col("cands")),
        )["cid"].alias("centroid_id"),
        "label",
    )
    m = assigned.groupBy("centroid_id", "label").agg(F.count(F.lit(1)).alias("n"))
    cw = Window.partitionBy("centroid_id")
    rw = Window.partitionBy("centroid_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        m.withColumn("total", F.sum("n").over(cw))
        .withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "centroid_id",
            F.col("total").cast("long").alias("n_members"),
            F.col("label").cast("int").alias("majority_label"),
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "purity"
            ),
        )
    )


_HN_K = 5  # hard negatives per anchor


_HN_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS qlabel FROM e
      WHERE vec_id < {_MRR_NQ}),
ranked AS (
  SELECT q.anchor_id, q.qlabel, e.vec_id AS neg_id, e.label AS neg_label,
         {_sql_cosine("e.embedding", "q.qv")} AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.anchor_id
                            ORDER BY {_sql_cosine("e.embedding", "q.qv")} DESC,
                                     e.vec_id) AS rnk
  FROM q JOIN e ON e.label != q.qlabel
)
SELECT anchor_id, qlabel, neg_id, neg_label, cos,
       CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {_HN_K}
"""


@query("mine_hard_negatives", oracle=_HN_ORACLE)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    anchor, the {_HN_K} highest-cosine vectors of a DIFFERENT label —
    the pairs that carry the most gradient signal (in-batch random
    negatives are mostly easy; mining against the full corpus is the
    standard offline step). Deterministic ties by vec_id.

    Scale shape: identical to eval_retrieval_mrr — anchors broadcast,
    per-anchor top-k via WindowGroupLimit (the partial top-k cut runs
    inside each corpus partition before any shuffle), so the judged
    depth bounds shuffle volume, not corpus size. At 100 TB the anchor
    set shards into broadcast-sized batches and the same plan loops."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "label", norm_col("embedding").alias("e_norm")
    )
    q = emb.filter(F.col("vec_id") < _MRR_NQ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
        F.col("e_norm").alias("q_norm"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc("neg_id"))
    return (
        emb.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "anchor_id",
            "qlabel",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            # one fold per pair: norms precomputed map-side per vector
            cosine_from(dot_col("embedding", "qv"), "e_norm", "q_norm").alias(
                "cos"
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HN_K)
        .select(
            "anchor_id", "qlabel", "neg_id", "neg_label", "cos",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (Achlioptas ±1 sketches):
# reduce the 64-d embeddings to r-d sign-projection sketches BEFORE the
# expensive similarity stages. Unlike the LSH routes (which quantize to
# bits), the reduced vectors stay real-valued, so downstream cosine
# math is unchanged — only 4x/2x cheaper and 4x/2x smaller on the wire.
# The ±1 matrix (no 1/sqrt(r) scaling: cosine is scale-invariant) is
# derived once from a pinned numpy stream and embedded as literals in
# both engines, exactly like _HYPERPLANES.
# ---------------------------------------------------------------------------

_RP_MAX_DIMS = 32
_RP_REDUCE_DIMS = 16  # width exposed by embed_rp_reduce's output
_RP_SIGNS: list[list[float]] = np.where(
    np.random.RandomState(13).standard_normal((_RP_MAX_DIMS, DIM)) >= 0, 1.0, -1.0
).tolist()


def _rp_col(j: int) -> Column:
    return dot_col("embedding", _plane_lit(j, _RP_SIGNS))


def _sql_rp(j: int) -> str:
    return _sql_dot("embedding", _sql_plane(j, _RP_SIGNS))


def _sql_rp_vec(r: int) -> str:
    return "[" + ", ".join(_sql_rp(j) for j in range(r)) + "]"


_RP_REDUCE_ORACLE = f"""
WITH rp AS (SELECT vec_id, {_sql_rp_vec(_RP_REDUCE_DIMS)} AS rv FROM embeddings),
long AS (
  SELECT vec_id, gs.dim AS dim, rv[gs.dim + 1] AS value
  FROM rp CROSS JOIN (SELECT unnest(range({_RP_REDUCE_DIMS})) AS dim) gs
)
SELECT vec_id, CAST(dim AS INTEGER) AS dim, CAST(value AS DOUBLE) AS value
FROM long ORDER BY vec_id, dim
"""


@query("embed_rp_reduce", oracle=_RP_REDUCE_ORACLE)
def embed_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_RP_REDUCE_DIMS}-d random-projection sketch of every embedding,
    emitted in long (vec_id, dim, value) form — nested outputs are not
    hash-comparable, and the long form is also the layout a feature
    store ingests.

    Scale shape: pure map — each sketch dim is one zip_with/aggregate
    fold against a literal ±1 row (the plan ships the matrix as
    constants, broadcast for free); no keyed shuffle anywhere except
    the output ordering (which a sink would drop) — fan_out only
    rebalances an unsplittable tiny scan across idle cores and is a
    no-op once the scan yields ≥ cores splits. At 100 TB this is the
    stage you run FIRST so every downstream pair computation (near-dup
    blocking, ANN, clustering) folds {_RP_REDUCE_DIMS} doubles instead
    of {DIM}."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    sketch = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[_rp_col(j) for j in range(_RP_REDUCE_DIMS)])
        ).alias("dim", "value"),
    )
    return sketch.select(
        "vec_id", F.col("dim").cast("int").alias("dim"), "value"
    ).orderBy("vec_id", "dim")


def _rp_topk(spark: SparkSession, sf_dir: str, r: int) -> DataFrame:
    """Exact cosine top-k in the r-d sketch space (query split + window
    shape identical to sim_topk, so the plans differ only in fold
    width)."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.array(*[_rp_col(j) for j in range(r)]).alias("rv")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("rv").alias("qv"),
        norm_col("rv").alias("q_norm"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("rv").alias("cv"),
        norm_col("rv").alias("c_norm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "cand_id",
            cosine_from(dot_col("qv", "cv"), "q_norm", "c_norm").alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id")
    )


def _sql_rp_topk(r: int) -> str:
    return f"""(
  SELECT query_id, cand_id FROM (
    SELECT q.query_id, c.cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cosine("q.qv", "c.cv")} DESC,
                                       c.cand_id) AS rn
    FROM (SELECT vec_id AS query_id, {_sql_rp_vec(r)} AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}) q
    CROSS JOIN (SELECT vec_id AS cand_id, {_sql_rp_vec(r)} AS cv
                FROM embeddings WHERE vec_id >= {N_QUERIES}) c
  ) t WHERE rn <= {TOP_K}
)"""


def _rp_recall_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT 'rp{r}' AS route,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
        JOIN {_sql_rp_topk(r)} a
          ON e.query_id = a.query_id AND e.cand_id = a.cand_id) AS hits
  FROM (SELECT 1)"""
        for r in (16, 32)
    )
    return f"""
WITH exact AS (SELECT query_id, cand_id FROM ({_TOPK_ORACLE}) t),
expected AS (SELECT CAST(COUNT(*) AS BIGINT) AS expected FROM exact),
arms AS ({arms})
SELECT route, hits, expected,
       CAST(hits AS DOUBLE) / CAST(expected AS DOUBLE) AS recall
FROM arms CROSS JOIN expected
"""


@query("embed_rp_recall", oracle=_rp_recall_oracle())
def embed_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of exact cosine search run in the r-d sketch
    space (r = 16, 32) against the full-{DIM}-d ground truth
    (sim_topk) — the measured answer to "how much similarity signal
    does the cheap sketch keep?", the same runs-vs-works conversion
    ann_recall_at_k applies to the ANN routes. Johnson-Lindenstrauss
    predicts monotone recall in r; the two widths pin the measured
    curve so the width knob is chosen from data, not folklore.

    Scale shape: each arm is sim_topk's plan at a narrower fold; the
    recall join intersects |Q|×k pair sets (broadcast-sized). Ties
    break by cand_id in both engines — hash-exact output."""
    exact = sim_topk(spark, sf_dir).select("query_id", "cand_id")
    expected = exact.agg(F.count(F.lit(1)).cast("long").alias("expected"))
    arms = []
    for r in (16, 32):
        ann = _rp_topk(spark, sf_dir, r)
        arms.append(
            exact.join(ann, ["query_id", "cand_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(f"rp{r}").alias("route"), "hits")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.crossJoin(F.broadcast(expected)).select(
        "route",
        "hits",
        "expected",
        (F.col("hits").cast("double") / F.col("expected").cast("double")).alias(
            "recall"
        ),
    )


# --- residual IVF-PQ: the full FAISS IVFPQ formulation ---------------------
# PQ encodes (vector − its coarse centroid) instead of the raw vector:
# residuals within one cell are centered near the origin, so the SAME
# codebook budget spends its codewords on the fine structure the coarse
# quantizer can't express. Scoring reconstructs candidate ≈ centroid +
# residual-recon and ranks by cosine(raw query, reconstruction) — the
# metric is unchanged, only the encoding error shrinks.
#
# Two determinism constraints shape the knobs:
# - residual arithmetic (subtract, add back) is element-wise double
#   ops — deterministic in both engines, so the whole pipeline stays
#   hash-exact;
# - the coarse centroids (vec_id < N_CENTROIDS) have IDENTICALLY ZERO
#   residuals, and a zero vector has no cosine (0/0 = NaN, which the
#   two engines ORDER differently). Seeds therefore come from the
#   candidate range [N_QUERIES, N_QUERIES + k), and only candidates
#   (vec_id ≥ N_QUERIES, never exactly equal to their centroid) are
#   encoded — queries search with their raw vectors.

def _pq_fit_res(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    n_queries: int = N_QUERIES,
    assign: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, list]:
    """Residual-PQ training: (residual subvectors, trained codebook,
    residual relation, collected codebook rows) after one Lloyd round
    on (vector − centroid) residuals of the CANDIDATE set. Seeds come
    from the first k candidates — the coarse centroids' own residuals
    are identically zero and have no cosine. Codebook memoized per
    (corpus, k) like the raw-vector fit. The collected rows ride the
    return value (r14/ADVICE: the old _pq_res_codebook_rows re-derived
    the memo key and raised a bare KeyError if the corpus version
    moved between training and lookup)."""
    if assign is None:
        assign = _coarse_assign(spark, sf_dir)
    cent = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent_emb"))
    )
    res = (
        assign.filter((F.col("rn") == 1) & (F.col("vec_id") >= n_queries))
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "embedding",
                "cent_emb",
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("rv"),
        )
    )
    subs = res.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("rv", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sub"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("x"),
    ).select(
        "vec_id", F.col("x.s").alias("s"), F.col("x.sub").alias("sub")
    ).withColumn("__snorm", norm_col("sub"))

    version = _corpus_version(sf_dir)
    memo = _PQ_MEMO.get((sf_dir, ("res", k, n_queries), version))
    if memo is not None:
        return subs, spark.createDataFrame(memo[1], memo[0]), res, memo[1]

    seeds = subs.filter(
        (F.col("vec_id") >= n_queries) & (F.col("vec_id") < n_queries + k)
    ).select(
        "s",
        F.col("vec_id").alias("code_id"),
        F.col("sub").alias("cent"),
        F.col("__snorm").alias("__bnorm"),
    )
    aw = Window.partitionBy("vec_id", "s").orderBy(
        F.desc(cosine_from_safe(dot_col("sub", "cent"), "__snorm", "__bnorm")),
        F.asc("code_id"),
    )
    assigned = (
        subs.join(F.broadcast(seeds), "s")
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("s", "code_id", "sub")
    )
    ex = assigned.select(
        "s", "code_id", F.posexplode("sub").alias("pos", "val")
    ).select("s", "code_id", (F.col("pos") + 1).alias("dim"), "val")
    q = F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("long")
    upd = ex.groupBy("s", "code_id", "dim").agg(
        (
            F.sum(q).cast("double") / F.lit(1000000.0) / F.count(F.lit(1)).cast("double")
        ).alias("value")
    )
    cent1 = upd.groupBy("s", "code_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "value"))),
            lambda st: st["value"],
        ).alias("cent")
    ).withColumn("__bnorm", norm_col("cent"))
    hit = (cent1.schema, cent1.collect())
    mk = (sf_dir, ("res", k, n_queries), version)
    for stale in [s for s in _PQ_MEMO if s[:2] == mk[:2]]:
        del _PQ_MEMO[stale]
    _PQ_MEMO[mk] = hit
    return subs, spark.createDataFrame(hit[1], hit[0]), res, hit[1]


def _ivf_pq_res_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = _PQ_K,
    n_queries: int = N_QUERIES,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Residual IVF-PQ search core (see sim_ivf_pq_residual)."""
    if assign is None:
        assign = _coarse_assign(spark, sf_dir)
    _, _cent1, res, cb_rows = _pq_fit_res(
        spark, sf_dir, k=k, n_queries=n_queries, assign=assign
    )
    # r13: wide encode+reconstruct fold over the residual vector (see
    # _pq_codes_arr) — replaces the Window(vec_id, s) ranking, the
    # codebook join-back, the groupBy(vec_id) reassembly AND the join
    # back onto res (rv rows already carry centroid_id). Same guarded
    # cosine (cosine_from_safe) per codebook entry, same tie-break.
    cbs = _codebook_lits(cb_rows, _PQ_M)
    rrecon = res.select(
        "vec_id",
        "centroid_id",
        F.flatten(
            F.transform(
                _pq_codes_arr(
                    F.col("rv"), cbs, _PQ_M, _PQ_SUBDIM, cosine_from_safe
                ),
                lambda x: x["e"]["cent"],
            )
        ).alias("recon"),
    )
    cent = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent_emb"))
    )
    reconf = (
        rrecon.join(F.broadcast(cent), "centroid_id")
        .select(
            F.col("vec_id").alias("cand_id"),
            "centroid_id",
            F.zip_with(
                "cent_emb", "recon", lambda x, y: x.cast("double") + y.cast("double")
            ).alias("c_emb"),
        )
        .withColumn("c_norm", norm_col("c_emb"))
    )
    q = assign.filter(
        (F.col("vec_id") < n_queries) & (F.col("rn") <= _IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "centroid_id",
        norm_col("embedding").alias("q_norm"),
    )
    scored = F.broadcast(q).join(reconf, "centroid_id").select(
        "query_id",
        "cand_id",
        cosine_from(dot_col("q_emb", "c_emb"), "q_norm", "c_norm").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


@query("sim_ivf_pq_residual", oracle=_IVF_PQ_RES_ORACLE)
def sim_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (the full FAISS IVFPQ): PQ codebook trained on
    (vector − coarse centroid) residuals, candidates reconstructed as
    centroid + residual-recon, ranked by cosine(raw query,
    reconstruction) within the nprobe={_IVF_NPROBE} probed cells.

    Same plan shape as sim_ivf_pq plus two element-wise zip_with maps
    (residual subtract at encode, centroid add at reconstruct) and one
    broadcast join against the nlist-row centroid table — the encoding
    improvement is free at the plan level. Recall vs the plain-vector
    composition is measured in ann_recall_at_k."""
    return _ivf_pq_res_topk(spark, sf_dir)
