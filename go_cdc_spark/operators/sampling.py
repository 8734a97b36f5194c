"""Weighted sampling operators for corpus curation.

Two engine-exact weighted sampling designs complementing the uniform /
stratified / temperature samplers (text.py, curation.py):

- **PPS Bernoulli sampling** (`sample_weighted_pps`) — inclusion
  probability proportional to size (document length): the classic
  survey-sampling design for token-budgeted corpus draws where long
  documents should be kept more often. Pure map-side filter: one
  1-row broadcast for the max weight, then an integer comparison per
  row — no shuffle of the corpus at any scale.
- **Priority sampling** (`sample_priority`) — Duffield–Lund–Thorup
  priority sampling: a without-replacement weighted top-k where each
  row gets priority w/u (u uniform) and the k highest priorities are
  kept. Unbiased subset-sum estimation with a FIXED sample size —
  what PPS Bernoulli cannot give. One global top-k: Spark plans
  ``orderBy().limit(k)`` as TakeOrderedAndProject (per-partition
  partial top-k, driver merges k rows per partition), so the shuffle
  is k×partitions rows regardless of corpus size.

Determinism / engine parity: all "randomness" is md5-derived from the
stable key (the house idiom — reproducible across runs, engines, and
retried tasks; rand() is none of those). The only floating-point step
is a SINGLE IEEE-754 division of two exactly-representable integers
(w/u), which is correctly rounded by definition in both Spark and
DuckDB — so the priority order, and therefore the selected sample, is
bit-identical across engines. No pow()/ln() (whose libm rounding is
engine-dependent) anywhere.

Parity note: the reference (go-cdc, a CDC replicator) has no sampling
surface; these belong to the LLM-pipeline surface SURVEY.md §2.B
requires alongside dedup/similarity/curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..tables import load


def _hash16(tag: str, key: str = "doc_id") -> Column:
    """Deterministic uniform 16-bit integer from (tag, key): first 4 hex
    chars of md5 → 0..65535. Same derivation as the stratified/holdout
    samplers so one audit covers the whole idiom."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), F.col(key).cast("string"))), 1, 4),
            16,
            10,
        )
        .cast("long")
    )


_PINNED: list = []  # previous invocation's cached relations (graph.py pattern)

_PPS_RATE = 2500  # per-10000 inclusion rate at the maximum weight (25%)

_PPS_ORACLE = f"""
WITH w AS (SELECT MAX(n_chars) AS w_max FROM documents)
SELECT doc_id, lang, source, n_chars,
       CAST(({_PPS_RATE} * n_chars) AS DOUBLE)
           / CAST((10000 * w_max) AS DOUBLE) AS incl_prob
FROM documents, w
WHERE CAST(concat('0x', substr(md5(concat('pps', CAST(doc_id AS VARCHAR))), 1, 4))
           AS BIGINT) * 10000 * w_max < {_PPS_RATE} * 65536 * n_chars
"""


def pps_filter(docs: DataFrame, rate_per_10000: int = _PPS_RATE) -> DataFrame:
    """df-level PPS core (rate is the recipe knob; the registered query
    fixes it at {_PPS_RATE}): include each document with probability
    (rate/10000)·(n_chars/max_chars)."""
    w_max = docs.agg(F.max("n_chars").alias("w_max"))
    u = _hash16("pps")
    return (
        docs.crossJoin(F.broadcast(w_max))
        .filter(
            u * F.lit(10000) * F.col("w_max")
            < F.lit(rate_per_10000 * 65536) * F.col("n_chars")
        )
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            (
                (F.lit(rate_per_10000) * F.col("n_chars")).cast("double")
                / (F.lit(10000) * F.col("w_max")).cast("double")
            ).alias("incl_prob"),
        )
    )


@query("sample_weighted_pps", oracle=_PPS_ORACLE)
def sample_weighted_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size Bernoulli sampling: include each
    document with probability (RATE/10000)·(n_chars/max_chars).

    The inclusion test is pure integer arithmetic on the RAW 16-bit
    hash — ``u · 10000 · w_max < RATE · 65536 · w`` — so there is no
    float threshold to drift between engines AND no modulo bias: a
    ``u % 10000`` residue over a uniform 0..65535 would make residues
    0..5535 occur 7/65536 vs 6/65536, inflating the true inclusion rate
    ~6.8% above the reported ``incl_prob`` and biasing any
    Horvitz-Thompson estimator built on it. Cross-multiplying against
    the full 65536-wide hash keeps the realized rate within 1/65536 of
    the reported ratio. The max weight arrives via a 1-row broadcast
    crossJoin — no driver round-trip, no shuffle of the corpus. At
    100 TB this is scan → filter, embarrassingly parallel.
    """
    return pps_filter(load(spark, sf_dir, "documents"))


_PRIORITY_K = 100

# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
# select raw-corpus documents whose hashed n-gram feature distribution
# looks like a trusted target slice. DSIR scores each document by the
# log-likelihood ratio of target vs raw bag-of-hashed-ngrams models and
# resamples by that importance weight. The in-engine, log-free analog
# scores by the EXACT integer cross-difference
#
#     delta_b = t_b * R - r_b * T      (per hashed feature bucket b)
#     score(doc) = sum over doc tokens of delta_bucket(token)
#
# where t_b/r_b are target/raw token counts in bucket b and T/R the
# slice totals. sign(delta_b) == sign(t_b/T - r_b/R), so the score is a
# per-token-rescaled version of DSIR's probability-difference classifier
# on hashed features — monotone in "target-likeness" — while staying in
# BIGINT arithmetic that both engines compute bit-identically (a log
# ratio would drift in libm). Selection = top-K score with doc_id
# tie-break: the deterministic counterpart of DSIR's importance draw.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256  # hashed feature space (DSIR uses 10k at web scale)
_DSIR_REF_MOD = 7  # trusted target slice: doc_id % 7 == 0 (the house
#                    stand-in for "Wikipedia", same as quality_oov_bigrams)
_DSIR_K = 150

_DSIR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
bt AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('dsir', tok)), 1, 4))
                AS BIGINT) % {_DSIR_BUCKETS} AS b
    FROM toks
),
counts AS (
    SELECT b,
           CAST(SUM(CASE WHEN doc_id % {_DSIR_REF_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS t_b,
           CAST(SUM(CASE WHEN doc_id % {_DSIR_REF_MOD} <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS r_b
    FROM bt GROUP BY b
),
tot AS (
    SELECT CAST(SUM(t_b) AS BIGINT) AS t_tot,
           CAST(SUM(r_b) AS BIGINT) AS r_tot
    FROM counts
),
w AS (
    SELECT b, t_b * r_tot - r_b * t_tot AS delta
    FROM counts CROSS JOIN tot
),
scored AS (
    SELECT bt.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(delta) AS BIGINT) AS score
    FROM bt JOIN w USING (b)
    WHERE bt.doc_id % {_DSIR_REF_MOD} <> 0
    GROUP BY bt.doc_id
)
SELECT doc_id, n_tokens, score,
       CAST(score AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS score_per_token
FROM scored
ORDER BY score DESC, doc_id
LIMIT {_DSIR_K}
"""


def dsir_select(
    docs: DataFrame,
    k: int = _DSIR_K,
    ref_mod: int = _DSIR_REF_MOD,
    buckets: int = _DSIR_BUCKETS,
) -> DataFrame:
    """df-level DSIR core (k / ref_mod / buckets are the recipe knobs;
    the registered query fixes them at the module constants)."""
    while _PINNED:  # bound the cache: at most one invocation live
        _PINNED.pop().unpersist()
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    bt = toks.select(
        "doc_id", (_hash16("dsir", "tok") % buckets).alias("b")
    )
    is_ref = F.col("doc_id") % ref_mod == 0
    counts = bt.groupBy("b").agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).cast("bigint").alias("t_b"),
        F.sum(F.when(~is_ref, 1).otherwise(0)).cast("bigint").alias("r_b"),
    # LAZY persist: both `tot` and `w` derive from counts; without it
    # the totals' broadcast re-runs the corpus-proportional token scan
    # (3 corpus passes where 2 suffice — the formatted plan showed a
    # third Scan parquet before this pin)
    ).persist()
    _PINNED.append(counts)
    tot = counts.agg(
        F.sum("t_b").cast("bigint").alias("t_tot"),
        F.sum("r_b").cast("bigint").alias("r_tot"),
    )
    w = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        (F.col("t_b") * F.col("r_tot") - F.col("r_b") * F.col("t_tot")).alias(
            "delta"
        ),
    )
    scored = (
        bt.filter(~is_ref)
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("delta").cast("bigint").alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "n_tokens",
            "score",
            (F.col("score").cast("double") / F.col("n_tokens").cast("double")).alias(
                "score_per_token"
            ),
        )
    )


@query("sample_importance_dsir", oracle=_DSIR_ORACLE)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling toward a trusted target slice over hashed
    unigram features (DSIR analog, see section comment): score every
    raw document by the exact integer cross-difference classifier and
    keep the {_DSIR_K} most target-like (score desc, doc_id tie-break).

    Scale shape: tokens explode map-side; the feature model is ONE
    aggregation to {_DSIR_BUCKETS} rows (conditional partial counts fold
    map-side, so the shuffle carries buckets × partitions rows, not
    tokens) and the totals are a 1-row broadcast over it. Scoring joins
    each token to the {_DSIR_BUCKETS}-row weight table — broadcast hash
    join, no corpus shuffle — then aggregates by doc_id (partial sums
    map-side; the explode keeps tokens of one document in one partition
    so the partial collapses most of the volume). Selection is
    ``orderBy().limit(k)`` → TakeOrderedAndProject: k rows per
    partition reach the driver merge, no global sort. Overflow audit:
    |delta| ≤ max(t_b·R, r_b·T) and |score| ≤ n_tokens·max|delta|; at
    2^63 that bounds corpora to ~10^9 scored tokens per side at this
    bucket count — past that, swap the two products and the score sum
    to DECIMAL(38,0) (same plan, wider buffers)."""
    return dsir_select(load(spark, sf_dir, "documents"))



_PRIORITY_ORACLE = f"""
SELECT doc_id, n_chars,
       CAST(n_chars AS DOUBLE)
           / CAST(1 + CAST(concat('0x', substr(md5(concat('prio',
                 CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) AS DOUBLE)
           AS priority
FROM documents
ORDER BY priority DESC, doc_id
LIMIT {_PRIORITY_K}
"""


@query("sample_priority", oracle=_PRIORITY_ORACLE)
def sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup): priority = w/u with
    u ~ Uniform{1..65536} md5-derived from doc_id; keep the k highest
    priorities (ties broken by doc_id). Fixed-size without-replacement
    weighted sample with unbiased subset-sum estimators.

    w and u are exact integers and w/u is ONE correctly-rounded IEEE
    division, so the ranking is bit-identical in Spark and DuckDB.
    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject: each
    partition keeps its local top-k and only k·partitions rows reach
    the driver-side merge — no global sort at any corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    prio = F.col("n_chars").cast("double") / (F.lit(1) + _hash16("prio")).cast("double")
    return (
        docs.select("doc_id", "n_chars", prio.alias("priority"))
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(_PRIORITY_K)
    )


# ---------------------------------------------------------------------------
# Deterministic k-reservoir: uniform sample WITHOUT replacement of
# fixed size k, as hash-order top-k — the distributed equivalent of
# Vitter's reservoir (rank every row by a uniform deterministic key,
# keep the k smallest; per-partition heaps merge at the driver =
# exactly TakeOrderedAndProject).
# ---------------------------------------------------------------------------

_RESERVOIR_K = 500

_RESERVOIR_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
LIMIT {_RESERVOIR_K}
"""


@query("sample_reservoir", oracle=_RESERVOIR_ORACLE)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample (k = {_RESERVOIR_K}) of orders by
    md5-hash order of the key — deterministic (same sample every run,
    every engine: md5 renders as lowercase hex on both, and hex strings
    sort identically), uniform (the hash is equidistributed over keys),
    and without replacement.

    Scale shape: TakeOrderedAndProject — every partition keeps its
    local k smallest hash ranks (a bounded heap, no sort of the full
    partition), the driver merges |partitions|·k rows. No shuffle, no
    global sort; the classic reservoir's sequential scan becomes
    embarrassingly parallel. The key tiebreak is unreachable for md5
    but keeps the ORDER BY total for the hash oracle."""
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.md5(F.col("o_orderkey").cast("string")).alias("__r"),
        )
        .orderBy("__r", "o_orderkey")
        .limit(_RESERVOIR_K)
        .drop("__r")
    )
