"""Deduplication operators (exact → MinHash-LSH → SimHash).

The scale story (100 TB corpus, ~10^10 docs):

- **exact**: one hash-groupBy shuffle on md5(text) — the cheapest pass,
  always run first.
- **MinHash + LSH**: signatures are map-side (k md5 mins over shingles);
  the only shuffle is the band-bucket explode + self-join, whose output
  is bounded by bucket collisions, not |docs|². Band count / rows-per-
  band trade recall vs candidate volume; jaccard verification touches
  candidates only.
- **SimHash**: 64-bit signature via bit voting — near-dup buckets by
  Hamming distance; expression-only (aggregate/zip_with bit-count fold
  over per-token md5 nibbles), fully JVM-side and oracle-checked.

Every oracle-checked query keeps hashing engine-portable: md5 only
(identical hex in Spark and DuckDB) — xxhash64 etc. are Spark-private.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..tables import fan_out, load
from .text import shingles_col

MINHASH_K = 8  # permutations; bands of 2 rows → 4 bands
BAND_ROWS = 2
# Bucket-occupancy cap for pair generation: a mega-cluster of
# near-identical docs (boilerplate pages at web scale) lands ENTIRELY
# in shared band buckets, and all-pairs within such a bucket is
# quadratic in the cluster size — measured 7.9x wall under a 10%-mass
# duplicate cluster (tools/skew_stress.py). Past the cap, each member
# links only to the bucket's min-id HUB: candidate volume becomes
# linear while connected components still merge the cluster through
# the hub. Both engines apply the identical rule, so the oracle stays
# exact at every scale.
BUCKET_PAIR_CAP = 64


N_SEEDS = MINHASH_K // 4  # one md5 digest = 128 bits = four 32-bit lanes


def _sql_lane(i: int) -> str:
    g, j = divmod(i, 4)
    return (
        f"list_aggregate(list_transform(dg{g}, d -> substr(d, {1 + 8 * j}, 8)), 'min')"
    )


_SQL_SHINGLES = """
list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
    i -> concat_ws(' ',
         string_split(text, ' ')[i],
         string_split(text, ' ')[i + 1],
         string_split(text, ' ')[i + 2]))
""".strip()


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, deterministic survivor (min doc_id) —
    NOT dropDuplicates(), whose survivor is partition-order-dependent."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_MINHASH_CAND_CTES = f"""sig AS (
    SELECT doc_id,
           list_distinct(__SH) AS shset,
           {", ".join(_sql_lane(i) + f" AS h{i}" for i in range(MINHASH_K))}
    FROM (SELECT doc_id, __SH,
                 {", ".join(
                     f"list_transform(__SH, s -> md5(concat('{g}:', s))) AS dg{g}"
                     for g in range(N_SEEDS)
                 )}
          FROM (SELECT doc_id, __SHINGLES AS __SH FROM documents))
), banded AS (
    SELECT doc_id, shset,
           unnest([{", ".join(
               "md5(concat_ws('|', " + ", ".join(f"h{b * BAND_ROWS + r}" for r in range(BAND_ROWS)) + "))"
               for b in range(MINHASH_K // BAND_ROWS)
           )}]) AS band
    FROM sig
), bstat AS (
    SELECT band, MIN(doc_id) AS hub, COUNT(*) AS n
    FROM banded GROUP BY band
), cand AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
        JOIN bstat s ON s.band = a.band
        WHERE s.n <= {BUCKET_PAIR_CAP}
        UNION ALL
        SELECT s.hub, x.doc_id
        FROM banded x JOIN bstat s ON s.band = x.band
        WHERE s.n > {BUCKET_PAIR_CAP} AND x.doc_id != s.hub
    )
)""".replace("__SHINGLES", _SQL_SHINGLES)

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CAND_CTES}
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
           / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset))) AS jaccard
FROM cand
JOIN sig sa ON sa.doc_id = cand.doc_a
JOIN sig sb ON sb.doc_id = cand.doc_b
WHERE CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
          / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset))) >= 0.5
"""


def _minhash_candidates(docs: DataFrame) -> DataFrame:
    """Banded-MinHash candidate pairs (doc_a < doc_b) with the
    BUCKET_PAIR_CAP hub guard — the shared front half of
    dedup_minhash_lsh and its measured-quality twin. Lazily
    localCheckpointed: the candidate list is consumed by more than one
    subtree in every caller."""
    ex = docs.select("doc_id", F.explode(shingles_col()).alias("s"))
    hashed = ex.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{g}:"), F.col("s"))).alias(f"dg{g}")
            for g in range(N_SEEDS)
        ],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring(f"dg{i // 4}", 1 + 8 * (i % 4), 8)).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)],
                        )
                    )
                    for b in range(MINHASH_K // BAND_ROWS)
                ]
            )
        ).alias("band"),
    )
    bstat = banded.groupBy("band").agg(
        F.min("doc_id").alias("hub"), F.count(F.lit(1)).alias("n")
    )
    bb = banded.join(bstat, "band")
    small = bb.filter(F.col("n") <= BUCKET_PAIR_CAP).select("band", "doc_id")
    left = small.select(F.col("doc_id").alias("doc_a"), F.col("band"))
    right = small.select(F.col("doc_id").alias("doc_b"), F.col("band"))
    all_pairs = (
        left.join(right, "band")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    hub_pairs = (
        bb.filter((F.col("n") > BUCKET_PAIR_CAP) & (F.col("doc_id") != F.col("hub")))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return all_pairs.unionByName(hub_pairs).distinct().localCheckpoint(eager=False)


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=8) + LSH(4 bands × 2 rows) near-dup pairs, jaccard-verified
    on distinct 3-shingle sets (threshold 0.5).

    Plan shape: map-side signatures → explode to (band, doc) → self-join
    on band (the only quadratic-risk step, bounded by bucket size) →
    distinct candidate pairs → verify against the shingle sets.

    Signature computation is EXPLODE → codegen md5 → groupBy(doc) MIN
    aggregates, not array-lambda folds: higher-order functions run
    interpreted (no whole-stage codegen), and each interpreted pass
    over the shingle array costs more than the hashing itself —
    measured 7× slower than this shape at 10× sf0.1, with the gap
    growing in data size. The explode multiplies rows ~|shingles|×,
    but partial aggregation collapses them back to one row per doc
    map-side (exploded rows are partition-local), so the groupBy
    shuffle carries only finished signatures. Per-doc shingle sets are
    re-derived map-side ONLY for the verify step, against the
    broadcast candidate pairs — near-dup candidates are sparse by
    construction, so the corpus never shuffles for verification."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    # raw shingles on the hot path: MIN is duplicate-insensitive, and
    # array_distinct is another interpreted collection pass per doc —
    # the distinct SET is only built for docs that reach verification
    # (bucket-occupancy stats gate the pair strategy inside
    # _minhash_candidates: all-pairs in small buckets, hub links past
    # BUCKET_PAIR_CAP — the mega-cluster skew guard)
    cand = _minhash_candidates(docs)
    in_pairs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )
    # one map-side corpus pass building distinct shingle sets ONLY for
    # docs in candidate pairs, pinned by localCheckpoint: shsub feeds
    # BOTH sides of the pair join, and without the checkpoint each side
    # re-derives the arrays for its copy
    shsub = (
        docs.join(F.broadcast(in_pairs), "doc_id")
        .select("doc_id", F.array_distinct(shingles_col()).alias("shset"))
        .localCheckpoint(eager=False)
    )
    sa = shsub.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"))
    sb = shsub.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    return (
        F.broadcast(cand)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def blocking_quality(
    truth: DataFrame, cand: DataFrame, pair_cols: list[str]
) -> DataFrame:
    """One-row quality summary of a blocking method against exact
    ground truth: (expected, n_candidates, found, recall,
    cand_precision) over pair sets keyed by ``pair_cols``. Shared by
    the three measured blocking families (minhash bands, SRP-LSH
    vectors, simhash hamming) so the metric definition and output
    schema — which the oracles hash against — live in exactly one
    place. Divisions are guarded: an empty truth or candidate set
    yields NULL rates (both engines)."""
    t = truth.select(*pair_cols).withColumn("__t", F.lit(1))
    c = cand.select(*pair_cols).withColumn("__c", F.lit(1))
    j = t.join(c, pair_cols, "full_outer")
    hit = (F.col("__t").isNotNull() & F.col("__c").isNotNull()).cast("long")
    return j.agg(
        F.sum(F.coalesce(F.col("__t"), F.lit(0))).cast("long").alias("expected"),
        F.sum(F.coalesce(F.col("__c"), F.lit(0))).cast("long").alias("n_candidates"),
        F.sum(hit).cast("long").alias("found"),
        F.when(
            F.sum(F.coalesce(F.col("__t"), F.lit(0))) > 0,
            F.sum(hit).cast("double")
            / F.sum(F.coalesce(F.col("__t"), F.lit(0))),
        ).alias("recall"),
        F.when(
            F.sum(F.coalesce(F.col("__c"), F.lit(0))) > 0,
            F.sum(hit).cast("double")
            / F.sum(F.coalesce(F.col("__c"), F.lit(0))),
        ).alias("cand_precision"),
    )


# Bound on the measurement sample: the ground truth is all-pairs
# (quadratic by definition), so quality is measured over a FIXED-size
# doc prefix — every doc at sf0.01, the first 800 at any larger scale.
# Capping keeps the measurement runnable at any sf while the candidate
# pipeline under test stays the real operator's.
QUALITY_SAMPLE_DOCS = 800

_MINHASH_QUALITY_ORACLE = f"""
WITH qdocs AS (SELECT * FROM documents WHERE doc_id < {QUALITY_SAMPLE_DOCS}),
{_MINHASH_CAND_CTES.replace("FROM documents", "FROM qdocs")},
truth AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
          / (len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset))) >= 0.5
),
j AS (
    SELECT (t.doc_a IS NOT NULL) AS in_truth, (c.doc_a IS NOT NULL) AS in_cand
    FROM truth t FULL OUTER JOIN cand c
      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
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


@query("dedup_minhash_quality", oracle=_MINHASH_QUALITY_ORACLE)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED quality of the banded-MinHash blocking: recall and
    candidate precision of the LSH candidate pairs against the exact
    all-pairs Jaccard-≥-0.5 ground truth — the dedup sibling of
    `ann_recall_at_k`, converting "banding works" into a number per
    corpus (4 bands × 2 rows of k={MINHASH_K} at τ=0.5).

    The ground truth is deliberately quadratic (all doc pairs): this is
    a MEASUREMENT query, run on a bounded sample — at 100 TB the
    production dedup path stays the linear banded pipeline and quality
    is estimated on exactly this kind of sampled slice. The candidate
    side reuses the identical `_minhash_candidates` pipeline the real
    operator runs, so the measured recall is the operator's, not a
    simulation's."""
    docs = fan_out(
        load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < QUALITY_SAMPLE_DOCS
        )
    )
    sh = docs.select(
        "doc_id", F.array_distinct(shingles_col()).alias("shset")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter((inter.cast("double") / union) >= 0.5)
        .select("doc_a", "doc_b")
    )
    return blocking_quality(truth, _minhash_candidates(docs), ["doc_a", "doc_b"])


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               list_distinct(__SHINGLES) AS shset,
               list_aggregate(list_transform(__SHINGLES, s -> md5(s)), 'min') AS bucket
        FROM documents
    ),
    bstat AS (
        SELECT bucket, MIN(doc_id) AS hub, COUNT(*) AS n FROM fp GROUP BY bucket
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, a.shset AS sha, b.doc_id AS doc_b, b.shset AS shb
        FROM fp a
        JOIN fp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        JOIN bstat s ON s.bucket = a.bucket
        WHERE s.n <= {BUCKET_PAIR_CAP}
        UNION ALL
        SELECT h.doc_id, h.shset, x.doc_id, x.shset
        FROM fp x
        JOIN bstat s ON s.bucket = x.bucket
        JOIN fp h ON h.bucket = s.bucket AND h.doc_id = s.hub
        WHERE s.n > {BUCKET_PAIR_CAP} AND x.doc_id != s.hub
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sha, shb)) AS DOUBLE)
               / (len(sha) + len(shb) - len(list_intersect(sha, shb))) AS jaccard
    FROM pairs
    """.replace("__SHINGLES", _SQL_SHINGLES),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity over min-shingle buckets (1-permutation
    MinHash blocking): candidates share the minimum shingle hash; report
    the exact jaccard of every candidate pair (no threshold — the caller
    filters)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    pairs = _min_shingle_candidates(docs)
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    return pairs.select(
        "doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard")
    )


def _min_shingle_candidates(docs: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a, sha, doc_b, shb) sharing a min-shingle
    bucket (1-permutation MinHash blocking), hub-capped against
    mega-clusters — the shared front half of the shingle-set dedup
    family (jaccard / containment).

    One explode + one aggregation builds BOTH the distinct shingle set
    (collect_set) and the blocking key (min md5) — no interpreted
    array-lambda passes (see dedup_minhash_lsh for why those are the
    bottleneck); array_intersect/size downstream are order-insensitive
    so collect_set's unordered output is fine. Identical docs share the
    min-shingle bucket, so all-pairs there is quadratic in the
    duplicate-cluster size — hub-link past BUCKET_PAIR_CAP (mirrored in
    the oracles, so the gate holds at any scale)."""
    fp = (
        docs.select("doc_id", F.explode(shingles_col()).alias("s"))
        .groupBy("doc_id")
        .agg(
            F.collect_set("s").alias("shset"),
            F.min(F.md5("s")).alias("bucket"),
        )
        # r14: fp feeds bstat AND the candidate join; the lazy pin
        # evaluates the shingle explode + set aggregate once per
        # action instead of once per consumer (fp is one row per doc —
        # the same relation the join shuffles anyway).
        .localCheckpoint(eager=False)
    )
    bstat = fp.groupBy("bucket").agg(
        F.min("doc_id").alias("hub"), F.count(F.lit(1)).alias("n")
    )
    fps = fp.join(bstat, "bucket")
    small = fps.filter(F.col("n") <= BUCKET_PAIR_CAP)
    a = small.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"), "bucket")
    b = small.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"), "bucket")
    pairs_small = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "sha", "doc_b", "shb")
    )
    hubs = fps.filter(F.col("doc_id") == F.col("hub")).select(
        "bucket", F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha")
    )
    pairs_hub = (
        fps.filter((F.col("n") > BUCKET_PAIR_CAP) & (F.col("doc_id") != F.col("hub")))
        .select("bucket", F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"))
        .join(hubs, "bucket")
        .select("doc_a", "sha", "doc_b", "shb")
    )
    return pairs_small.unionByName(pairs_hub)


_CONTAINMENT_ORACLE = f"""
WITH fp AS (
    SELECT doc_id,
           list_distinct(__SHINGLES) AS shset,
           list_aggregate(list_transform(__SHINGLES, s -> md5(s)), 'min') AS bucket
    FROM documents
),
bstat AS (
    SELECT bucket, MIN(doc_id) AS hub, COUNT(*) AS n FROM fp GROUP BY bucket
),
pairs AS (
    SELECT a.doc_id AS doc_a, a.shset AS sha, b.doc_id AS doc_b, b.shset AS shb
    FROM fp a
    JOIN fp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    JOIN bstat s ON s.bucket = a.bucket
    WHERE s.n <= {BUCKET_PAIR_CAP}
    UNION ALL
    SELECT h.doc_id, h.shset, x.doc_id, x.shset
    FROM fp x
    JOIN bstat s ON s.bucket = x.bucket
    JOIN fp h ON h.bucket = s.bucket AND h.doc_id = s.hub
    WHERE s.n > {BUCKET_PAIR_CAP} AND x.doc_id != s.hub
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sha, shb)) AS DOUBLE) / len(sha) AS contain_a_in_b,
       CAST(len(list_intersect(sha, shb)) AS DOUBLE) / len(shb) AS contain_b_in_a,
       CAST(len(list_intersect(sha, shb)) AS DOUBLE)
           / least(len(sha), len(shb)) AS overlap_coef
FROM pairs
""".replace("__SHINGLES", _SQL_SHINGLES)


@query("dedup_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (Broder): C(A→B) = |sh(A) ∩ sh(B)| /
    |sh(A)| — catches SUB-document duplication that symmetric Jaccard
    misses (a paragraph lifted into a much larger page has tiny Jaccard
    but containment ≈ 1 for the smaller side). Reports both directions
    plus the overlap coefficient (their max, = inter/min set size), over
    the same hub-capped min-shingle candidate blocking as
    dedup_ngram_jaccard — same one-pass shingle aggregation, same
    mega-cluster bound, so the scale story is shared."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    pairs = _min_shingle_candidates(docs)
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb"))).cast("double")
    return pairs.select(
        "doc_a",
        "doc_b",
        (inter / F.size("sha")).alias("contain_a_in_b"),
        (inter / F.size("shb")).alias("contain_b_in_a"),
        (inter / F.least(F.size("sha"), F.size("shb"))).alias("overlap_coef"),
    )


_SIMHASH_SIG_CTES = """tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), th AS (
    SELECT doc_id, substring(md5(tok), 1, 16) AS h FROM tok
), bits AS (
    SELECT doc_id, p.j,
           ((strpos('0123456789abcdef', substring(th.h, (p.j // 4) + 1, 1)) - 1)
             >> (3 - (p.j % 4))) & 1 AS bit
    FROM th, (SELECT unnest(range(0, 64)) AS j) p
), votes AS (
    SELECT doc_id, j, SUM(bit) AS ones, COUNT(*) AS n
    FROM bits GROUP BY doc_id, j
), sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN 2 * ones > n THEN
                 CASE WHEN j = 0 THEN -9223372036854775808
                      ELSE (CAST(1 AS BIGINT) << (63 - j)) END
               ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
)"""

_SIMHASH_ORACLE = f"""
WITH {_SIMHASH_SIG_CTES}
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM sig GROUP BY simhash
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) near-dup buckets, expression-only — NO Python in the
    row path (the round-1 pandas-UDF form ran a per-row/per-token Python
    loop, the slowest stage at 10^10 docs; this is the JVM reformulation
    VERDICT.md asked for, and it made the operator oracle-checkable).

    Semantics (bit-identical to the old UDF, verified): per-token 64-bit
    hash = first 16 hex nibbles of md5(token), MSB-first; signature bit
    j = 1 iff more than half the tokens set it; the int64 packs via a
    shiftleft|or chain (bitwise, so no ANSI overflow on the sign bit).

    Scale: bit-voting is EXPLODE → codegen md5 → groupBy with 64
    conditional-sum partials — fully whole-stage-codegen, like the
    MinHash signatures above (the earlier ``aggregate``+``zip_with``
    fold ran interpreted per token and was the 0.5-exponent outlier in
    SCALE.md). Map-side partial aggregation collapses the exploded
    token rows before the only shuffle (doc_id-keyed votes)."""

    docs = fan_out(load(spark, sf_dir, "documents"))
    sig = _simhash_signatures(docs)
    return sig.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


def _simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) — the codegen bit-voting pipeline shared
    by the bucket form, the banded pair form and the quality twin."""
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    hashed = tok.select("doc_id", F.substring(F.md5("tok"), 1, 16).alias("h"))

    def bit(j: int) -> Column:
        # bit j of the 64-bit hash: nibble j//4 (conv hex→int), MSB-first
        v = F.conv(F.substring("h", j // 4 + 1, 1), 16, 10).cast("int")
        return F.shiftright(v, 3 - j % 4).bitwiseAND(F.lit(1))

    votes = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        *[F.sum(bit(j)).alias(f"c{j}") for j in range(64)],
    )
    packed = F.lit(0).cast("bigint")
    for j in range(64):
        packed = F.shiftleft(packed, 1).bitwiseOR(
            F.when(F.col(f"c{j}") * 2 > F.col("n_toks"), F.lit(1).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
    return votes.select("doc_id", packed.alias("simhash"))


SIMHASH_BANDS = 4      # 4 x 16-bit bands: hamming <= 3 pairs share >= 1
SIMHASH_HAM = 3        # Manku et al. WWW'07 near-dup radius


def _simhash_band_key(col: Column, b: int) -> Column:
    """16-bit band b (MSB-first) of a 64-bit signature. Arithmetic vs
    logical shift doesn't matter: the & 0xFFFF mask keeps only original
    bits — identical in Spark and DuckDB."""
    return F.shiftright(col, 48 - 16 * b).bitwiseAND(F.lit(65535))


def _simhash_banded_pairs(docs: DataFrame) -> DataFrame:
    """Candidate pairs sharing >= 1 of the {SIMHASH_BANDS} signature
    bands, hamming-verified at radius {SIMHASH_HAM} — by pigeonhole, a
    pair within hamming {SIMHASH_HAM} differs in at most 3 of 4 bands,
    so band equality is a LOSSLESS block for the radius (recall loss
    comes only from simhash itself, not the blocking). Identical-doc
    mega-clusters share every band: the BUCKET_PAIR_CAP hub guard
    applies per band bucket, as in the MinHash family."""
    sig = _simhash_signatures(docs).localCheckpoint(eager=False)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        _simhash_band_key(F.col("simhash"), b).alias("k"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", F.col("bd.b").alias("b"), F.col("bd.k").alias("k"))
    bstat = banded.groupBy("b", "k").agg(
        F.min("doc_id").alias("hub"), F.count(F.lit(1)).alias("n")
    )
    bb = banded.join(bstat, ["b", "k"])
    small = bb.filter(F.col("n") <= BUCKET_PAIR_CAP)
    a = small.select(F.col("doc_id").alias("doc_a"), "b", "k")
    c = small.select(F.col("doc_id").alias("doc_b"), "b", "k")
    all_pairs = (
        a.join(c, ["b", "k"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    hub_pairs = bb.filter(
        (F.col("n") > BUCKET_PAIR_CAP) & (F.col("doc_id") != F.col("hub"))
    ).select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    cand = all_pairs.unionByName(hub_pairs).distinct()
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM)
        .select("doc_a", "doc_b", "hamming")
    )


_SIMHASH_CAND_SQL = f"""banded AS (
    SELECT doc_id, p.b, (simhash >> (48 - 16 * p.b)) & 65535 AS k
    FROM sig, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS b) p
), bstat AS (
    SELECT b, k, MIN(doc_id) AS hub, COUNT(*) AS n FROM banded GROUP BY b, k
), spairs AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM banded a
        JOIN banded c ON a.b = c.b AND a.k = c.k AND a.doc_id < c.doc_id
        JOIN bstat s ON s.b = a.b AND s.k = a.k
        WHERE s.n <= {BUCKET_PAIR_CAP}
        UNION ALL
        SELECT s.hub, x.doc_id
        FROM banded x JOIN bstat s ON s.b = x.b AND s.k = x.k
        WHERE s.n > {BUCKET_PAIR_CAP} AND x.doc_id != s.hub
    )
), verified AS (
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM spairs
    JOIN sig sa ON sa.doc_id = spairs.doc_a
    JOIN sig sb ON sb.doc_id = spairs.doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_HAM}
)"""

_SIMHASH_BANDED_ORACLE = f"""
WITH {_SIMHASH_SIG_CTES},
{_SIMHASH_CAND_SQL}
SELECT doc_a, doc_b, hamming FROM verified
"""


@query("dedup_simhash_banded", oracle=_SIMHASH_BANDED_ORACLE)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at hamming radius {SIMHASH_HAM}, found by
    {SIMHASH_BANDS}x16-bit band blocking (Manku et al. WWW'07, the
    public method): pigeonhole makes band equality lossless for the
    radius, so this upgrades `dedup_simhash`'s exact-signature buckets
    to the production near-dup form. Scale shape mirrors
    dedup_minhash_lsh: map-side signatures, one band self-join bounded
    by bucket occupancy (hub guard past BUCKET_PAIR_CAP), verification
    by a 64-bit XOR popcount on candidates only."""
    return _simhash_banded_pairs(fan_out(load(spark, sf_dir, "documents")))


_SIMHASH_QUALITY_ORACLE = f"""
WITH qdocs AS (SELECT * FROM documents WHERE doc_id < {{Q}}),
{_SIMHASH_SIG_CTES.replace("FROM documents", "FROM qdocs")},
{_SIMHASH_CAND_SQL},
sh AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS shset FROM qdocs),
truth AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
          / (len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset))) >= 0.5
),
j AS (
    SELECT (t.doc_a IS NOT NULL) AS in_truth, (c.doc_a IS NOT NULL) AS in_cand
    FROM truth t FULL OUTER JOIN verified c
      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
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
""".replace("{Q}", str(QUALITY_SAMPLE_DOCS))


@query("dedup_simhash_quality", oracle=_SIMHASH_QUALITY_ORACLE)
def dedup_simhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality of simhash-at-hamming-{SIMHASH_HAM} as a DUP DETECTOR:
    recall + precision of `dedup_simhash_banded`'s verified pairs
    against the exact all-pairs Jaccard-≥-0.5 ground truth over the
    same fixed {QUALITY_SAMPLE_DOCS}-doc prefix as
    dedup_minhash_quality — the third measured blocking family.
    SimHash approximates COSINE of token-frequency vectors, so its
    agreement with a Jaccard truth set is exactly the cross-metric gap
    worth measuring (near-identical docs agree on both; partial
    overlaps diverge)."""
    docs = fan_out(
        load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < QUALITY_SAMPLE_DOCS
        )
    )
    sh = docs.select(
        "doc_id", F.array_distinct(shingles_col()).alias("shset")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter((inter.cast("double") / union) >= 0.5)
        .select("doc_a", "doc_b")
    )
    return blocking_quality(
        truth, _simhash_banded_pairs(docs), ["doc_a", "doc_b"]
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: candidate PAIRS → connected components → one
# survivor per cluster. The step every real training-data dedup needs
# after LSH (pairs alone over-delete: a~b, b~c must collapse to ONE
# cluster {a,b,c}, not two independent pair-drops).
# ---------------------------------------------------------------------------


DRIVER_CC_MAX_EDGES = 1_000_000  # below this, union-find on the driver


def _driver_union_find(pairs: list) -> list:
    """Path-compressed union-find; cluster id = min node id (same
    contract as the distributed form)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the cluster id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 50
) -> DataFrame:
    """Min-label propagation over an undirected edge list → (node, cluster_id)
    with cluster_id = min node id in the component.

    Scale story: the edge list is the LSH candidate set (near-dup docs
    only), orders of magnitude smaller than the corpus — usually
    metadata-sized. Below {DRIVER_CC_MAX_EDGES} edges (counted first —
    one cheap aggregate) the edges COLLECT and a path-compressed
    union-find runs on the driver: iterative Spark rounds pay several
    job launches for a graph that fits in one machine's memory, the
    same trade the boundary-sampling collect makes (snapshot.py). The
    ~16 MB/1M-edge collect is bounded by the constant. Above the
    threshold, distributed min-label propagation WITH pointer doubling:
    each round is (1) a neighbor-min propagate (one join + one
    groupBy-min) and (2) a label-of-label contraction (one self-join) —
    the doubling step halves label-chain depth per round, so
    convergence is O(log n) rounds even on adversarial path graphs,
    not O(diameter) (Shiloach–Vishkin-style hybrid; plain propagation
    would silently exceed max_iter on a >50-diameter chain).
    ``localCheckpoint`` cuts lineage each round so Catalyst analysis
    stays O(1) per iteration; the convergence probe is a metadata-sized
    count, and NON-convergence raises instead of returning wrong labels.
    Both paths produce identical results (cluster id = min member id).
    """
    # pin the (possibly expensive) candidate-pair plan ONCE — the size
    # probe and whichever path follows both reuse the materialized rows
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.limit(DRIVER_CC_MAX_EDGES + 1).count()
    if n_edges <= DRIVER_CC_MAX_EDGES:
        pairs = [(r[0], r[1]) for r in edges.select(src, dst).collect()]
        labels = _driver_union_find(pairs)
        spark = edges.sparkSession
        if not labels:
            return spark.createDataFrame([], edges.select(src, dst).schema).select(
                F.col(src).alias("node"), F.col(dst).alias("cluster_id")
            )
        return spark.createDataFrame(labels, ["node", "cluster_id"])
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iter):
        nbr = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), F.col("label")
        )
        new = labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        # pointer doubling: label ← label[label]. Every label value is
        # itself a node (it entered as some node's min-neighbor-or-self),
        # so the self-join is total; each application halves the depth
        # of any label chain — O(log n) total rounds on a path graph
        # where plain propagation needs O(n).
        new = (
            new.alias("x")
            .join(
                new.select(
                    F.col("node").alias("lnode"), F.col("label").alias("llabel")
                ),
                F.col("x.label") == F.col("lnode"),
            )
            .select("node", F.col("llabel").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— refusing to return possibly-wrong cluster labels"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


# DuckDB oracle: transitive closure by recursive CTE (fine at oracle
# scale — the candidate graph is tiny), min reachable id = cluster id.
_EDGES_SQL = f"(SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}))"

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE sym AS (
    SELECT doc_a AS a, doc_b AS b FROM {_EDGES_SQL}
    UNION
    SELECT doc_b AS a, doc_a AS b FROM {_EDGES_SQL}
), reach(a, b) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM sym)
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs: every
    doc in a near-dup relation gets its component's min doc_id as
    cluster_id (docs with no near-dup are implicit singletons and not
    listed — they join back in dedup_survivors)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


_SURVIVORS_ORACLE = f"""
WITH RECURSIVE sym AS (
    SELECT doc_a AS a, doc_b AS b FROM {_EDGES_SQL}
    UNION
    SELECT doc_b AS a, doc_a AS b FROM {_EDGES_SQL}
), reach(a, b) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM sym)
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), members AS (
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
)
SELECT d.doc_id FROM documents d
LEFT JOIN members m ON d.doc_id = m.doc_id
WHERE m.doc_id IS NULL OR m.doc_id = m.cluster_id
"""


@query("dedup_survivors", oracle=_SURVIVORS_ORACLE)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus: drop every clustered doc except its
    cluster's min-id representative; untouched docs survive as
    singletons. This is the end-to-end contract of near-dedup — corpus
    in, strictly-smaller corpus out, one doc per near-dup class."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    members = dedup_clusters(spark, sf_dir)
    non_reps = members.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(non_reps, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Cross-document exact-substring dedup WITH corpus rewrite — the public
# "deduplicating training data" method (Lee et al. 2022, arXiv:2107.06499)
# re-expressed relationally: find word spans shared verbatim across
# documents, keep ONE canonical occurrence, excise every other, and
# reassemble the cleaned text. Detection-only siblings already exist
# (dedup_winnow fingerprints, quality_repeated_spans intra-doc); this is
# the operator that actually RETURNS the deduplicated corpus.
# ---------------------------------------------------------------------------

_SPAN_K = 5  # span granularity in words (suffix-array 50-token analog,
#              scaled to the fixture's short documents)

def _span_rewrite_oracle() -> str:
    from .curation import _sql_shingles

    return f"""
WITH words AS (
    SELECT doc_id, unnest(range(1, len(s) + 1)) - 1 AS pos, unnest(s) AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
grams AS (
    SELECT doc_id, unnest(range(1, len(g) + 1)) - 1 AS spos, unnest(g) AS gram
    FROM (SELECT doc_id, {_sql_shingles(_SPAN_K)} AS g FROM documents
          WHERE len(string_split(text, ' ')) >= {_SPAN_K})
),
dup AS (
    SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
occ AS (
    SELECT g.doc_id, g.spos,
           ROW_NUMBER() OVER (PARTITION BY g.gram
                              ORDER BY g.doc_id, g.spos) AS rn
    FROM grams g JOIN dup USING (gram)
),
drops AS (
    SELECT DISTINCT doc_id, unnest(range(spos, spos + {_SPAN_K})) AS pos
    FROM occ WHERE rn > 1
),
kept AS (
    SELECT w.doc_id, w.pos, w.word
    FROM words w LEFT JOIN drops d ON w.doc_id = d.doc_id AND w.pos = d.pos
    WHERE d.doc_id IS NULL
),
clean AS (
    SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       CAST(len(string_split(d.text, ' ')) - COALESCE(c.n_kept, 0) AS BIGINT)
           AS n_removed,
       COALESCE(c.clean_text, '') AS clean_text
FROM documents d LEFT JOIN clean c USING (doc_id)
WHERE len(string_split(d.text, ' ')) - COALESCE(c.n_kept, 0) > 0
"""


@query("dedup_substring_rewrite", oracle=_span_rewrite_oracle())
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup with corpus rewrite: every
    {_SPAN_K}-word span appearing verbatim in ≥2 documents keeps its
    CANONICAL occurrence (first by (doc_id, start)) and is excised
    everywhere else; surviving words reassemble in order. Returns the
    changed documents with before/removed word counts and the cleaned
    text — the operator that actually produces the deduplicated corpus,
    where dedup_winnow / quality_repeated_spans only detect.

    Semantics, stated exactly: a word is removed iff some duplicated
    {_SPAN_K}-gram occurrence covering it is not that gram's canonical
    occurrence. Overlapping duplicated spans union naturally (position
    sets, no interval merge needed); a document that is one big
    duplicated span of an earlier document rewrites to empty — the
    exact-dup limit case.

    Scale shape: words and grams explode map-side (the shared shingle
    expression); duplicated-gram detection is one count-distinct
    aggregate keyed by the gram (hot boilerplate grams are absorbed by
    map-side partials); the canonical window runs only over DUPLICATED
    occurrences (bounded by duplicate mass, not corpus size); drop
    positions explode K-wide from those occurrences only. The rewrite
    aggregation shuffles surviving (pos, word) pairs once, keyed by
    doc — at 100 TB, partition docs by id so the final groupBy is
    co-located with the word explode. Suffix arrays (Lee et al.'s
    structure) find variable-length spans; fixed-K grams find every
    span of length ≥ K wordwise-identically, the standard relational
    trade."""
    docs = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    nwords = F.size(F.split("text", " "))
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    grams = docs.filter(nwords >= _SPAN_K).select(
        "doc_id", F.posexplode(shingles_col(n=_SPAN_K)).alias("spos", "gram")
    )
    # r14: the duplicated-gram screen rides the SAME gram-keyed window
    # pass as the canonical ranking instead of a separate
    # count-distinct aggregate + join-back — the committed before-plan
    # ran the gram explode TWICE (once per consumer) and broadcast the
    # dup keys back. Both window specs share one hash(gram) exchange;
    # rn over the unfiltered partitions equals rn-after-the-join
    # because the dup screen removes whole gram partitions. "≥ 2
    # distinct docs" is min(doc_id) < max(doc_id): a fixed-size window
    # buffer, however many docs share a boilerplate gram.
    w_g = Window.partitionBy("gram")
    w = Window.partitionBy("gram").orderBy("doc_id", "spos")
    noncanon = (
        grams.withColumn(
            "dup", F.min("doc_id").over(w_g) < F.max("doc_id").over(w_g)
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("dup") & (F.col("rn") > 1))
    )
    drops = noncanon.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("spos"), F.col("spos") + F.lit(_SPAN_K - 1))
        ).alias("pos"),
    ).distinct()
    kept = words.join(drops, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        docs.select("doc_id", nwords.cast("bigint").alias("n_words"))
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .filter(F.col("n_removed") > 0)
    )


_LEAKAGE_HOLDOUT_PCT = 10  # mirrors text.py's split_train_holdout

_LEAKAGE_ORACLE = f"""
WITH RECURSIVE sym AS (
    SELECT doc_a AS a, doc_b AS b FROM {_EDGES_SQL}
    UNION
    SELECT doc_b AS a, doc_a AS b FROM {_EDGES_SQL}
), reach(a, b) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM sym)
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), members AS (
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
), rep AS (
    SELECT d.doc_id, COALESCE(m.cluster_id, d.doc_id) AS rep
    FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
), lab AS (
    SELECT doc_id,
           (CAST(concat('0x', substr(md5(concat('split',
                CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) % 100
            < {_LEAKAGE_HOLDOUT_PCT}) AS naive_holdout,
           (CAST(concat('0x', substr(md5(concat('split',
                CAST(rep AS VARCHAR))), 1, 4)) AS BIGINT) % 100
            < {_LEAKAGE_HOLDOUT_PCT}) AS safe_holdout
    FROM rep
), counts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN naive_holdout THEN 1 ELSE 0 END) AS BIGINT)
               AS n_holdout_naive,
           CAST(SUM(CASE WHEN safe_holdout THEN 1 ELSE 0 END) AS BIGINT)
               AS n_holdout_safe
    FROM lab
), leak AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
           CAST(SUM(CASE WHEN la.naive_holdout <> lb.naive_holdout
                    THEN 1 ELSE 0 END) AS BIGINT) AS naive_cross_pairs,
           CAST(SUM(CASE WHEN la.safe_holdout <> lb.safe_holdout
                    THEN 1 ELSE 0 END) AS BIGINT) AS safe_cross_pairs
    FROM {_EDGES_SQL} p
    JOIN lab la ON p.doc_a = la.doc_id
    JOIN lab lb ON p.doc_b = lb.doc_id
)
SELECT * FROM counts, leak
"""


@query("split_leakage_safe", oracle=_LEAKAGE_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout split: hash the near-dup CLUSTER
    representative (min doc_id of the component; singletons hash their
    own id), so an entire near-dup class lands on one side of the
    split. The naive per-document hash split contaminates evaluation —
    a holdout document whose near-duplicate sits in train is partially
    memorized, and eval loss reads low. This is the split-time
    counterpart of dedup_survivors: instead of dropping duplicates,
    it quarantines whole duplicate classes on one side.

    Returns ONE measured row (the quality-measurement family style):
    corpus/holdout counts under both strategies plus the LEAKAGE of
    each — near-dup pairs whose endpoints straddle the split. The safe
    strategy's cross count is zero by construction, but the gate
    measures it rather than asserting it, and the naive count is the
    contamination a per-doc split would have shipped.

    Scale shape: cluster ids come from the existing connected-components
    path (bounded driver union-find under DRIVER_CC_MAX_EDGES, else
    distributed min-label); the representative hash is a map-side
    projection over docs; the leakage audit joins the bounded verified
    pair set against the tiny (doc_id, flags) relation. The same
    labeling expression, minus the audit, tags a training-shard write
    exactly like split_train_holdout's.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # ONE pair pipeline feeds both the clustering and the leakage audit
    # (calling dedup_clusters would rebuild the whole MinHash pipeline
    # a second time — measured 4.6s → 2.9s at sf0.1)
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    members = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    rep = docs.join(members, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep")
    )

    def holdout(col: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("split"), col.cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("bigint")
            % 100
            < _LEAKAGE_HOLDOUT_PCT
        )

    lab = rep.select(
        "doc_id",
        holdout(F.col("doc_id")).alias("naive_holdout"),
        holdout(F.col("rep")).alias("safe_holdout"),
    ).localCheckpoint(eager=False)  # feeds the counts AND both join sides
    counts = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("naive_holdout").cast("int")).cast("bigint").alias(
            "n_holdout_naive"
        ),
        F.sum(F.col("safe_holdout").cast("int")).cast("bigint").alias(
            "n_holdout_safe"
        ),
    )
    la = lab.select(
        F.col("doc_id").alias("doc_a"),
        F.col("naive_holdout").alias("na"),
        F.col("safe_holdout").alias("sa"),
    )
    lb = lab.select(
        F.col("doc_id").alias("doc_b"),
        F.col("naive_holdout").alias("nb"),
        F.col("safe_holdout").alias("sb"),
    )
    leak = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neardup_pairs"),
            F.sum((F.col("na") != F.col("nb")).cast("int"))
            .cast("bigint")
            .alias("naive_cross_pairs"),
            F.sum((F.col("sa") != F.col("sb")).cast("int"))
            .cast("bigint")
            .alias("safe_cross_pairs"),
        )
    )
    return counts.crossJoin(leak)


# ---------------------------------------------------------------------------
# Windowed event dedup: telemetry duplicate suppression — keep one
# event per (entity, type) within each 10-minute bucket; same keys,
# bounded window.
# ---------------------------------------------------------------------------


@query(
    "dedup_events_windowed",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_hour,
           CAST(minute(ts) // 10 AS INT) AS slot,
           user_id, event_type,
           MIN(event_id) AS keep_event_id,
           COUNT(*) AS n_in_window
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
)
def dedup_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-event-wins dedup per (user, event_type) in 10-minute
    tumbling buckets: one hash-groupBy shuffle keyed by (bucket, user,
    type) — high-cardinality keys, map-side partial aggregation, no
    window-function sort. date_trunc returns LTZ, so the bucket column
    re-casts to NTZ (the tz-probe rule in tables.load)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("bucket_hour"),
            F.floor(F.minute("ts") / F.lit(10)).cast("int").alias("slot"),
            "user_id",
            "event_type",
        )
        .agg(
            F.min("event_id").alias("keep_event_id"),
            F.count(F.lit(1)).alias("n_in_window"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
# algorithm): char k-gram hashes → sliding-window minimum selection.
# Guarantees any shared substring of length >= w + k - 1 yields at
# least one shared selected fingerprint — SUBSTRING-level overlap
# detection (copied passages, licence blocks, quoted chunks), which
# whole-document minhash/simhash cannot localize. A fourth, genuinely
# distinct near-dup family next to minhash / simhash / ngram-jaccard.
#
# Scale shape: fingerprint selection is MAP-SIDE ONLY (array lambdas
# over each row's own text — interpreted, but embarrassingly parallel
# and shuffle-free; the alternative, a position-exploded window-min,
# would shuffle |corpus chars| rows by doc_id). Only the selected
# fingerprints (~2/(w+1) of positions, distinct-collapsed map-side by
# the partial aggregate) reach the one shuffle. Posting lists are
# df-capped like sim_sparse_tfidf: fingerprints shared by > FP_DF_CAP
# docs are boilerplate (the winnowing-literature convention) and are
# dropped BEFORE the self-join, so the quadratic step is bounded by
# cap² per fingerprint regardless of corpus size.
# ---------------------------------------------------------------------------

WINNOW_K = 16  # char k-gram length
WINNOW_W = 8  # winnowing window (guarantee length = w + k - 1 = 23)
FP_DF_CAP = 20  # posting-list cap: more docs than this ⇒ boilerplate
WINNOW_MIN_SHARED = 2  # pairs must share at least this many fingerprints

_WINNOW_ORACLE = f"""
WITH fp AS (
    SELECT DISTINCT doc_id, fp
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
                   j -> list_min(hs[j:j + {WINNOW_W - 1}]))) AS fp
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(length(text) - {WINNOW_K - 1}, 1) + 1),
                       i -> CAST(concat('0x', substr(md5(substr(text, i, {WINNOW_K})), 1, 8)) AS BIGINT)) AS hs
            FROM documents
        ) t
    ) u
),
stat AS (SELECT fp, COUNT(*) AS n FROM fp GROUP BY fp),
keep AS (
    SELECT f.doc_id, f.fp
    FROM fp f JOIN stat s USING (fp)
    WHERE s.n BETWEEN 2 AND {FP_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM keep a JOIN keep b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


def winnow_fingerprints(text: str = "text") -> Column:
    """Selected winnowing fingerprints for a text column, as
    array<bigint>: k-gram hashes (first 8 md5 hex chars → 32-bit int,
    the engine-portable hash idiom), then the minimum of each
    w-window. The k-gram hash array is bound ONCE via the
    single-element outer transform (the shingles_col trick) so the w
    overlapping slices index one materialized array instead of
    re-hashing per window."""
    return F.expr(
        f"""
        element_at(transform(array(
            transform(sequence(1, greatest(length({text}) - {WINNOW_K - 1}, 1)),
                      i -> cast(conv(substr(md5(substr({text}, i, {WINNOW_K})), 1, 8), 16, 10) as bigint))
        ), hs ->
            transform(sequence(1, greatest(size(hs) - {WINNOW_W - 1}, 1)),
                      j -> array_min(slice(hs, j, {WINNOW_W})))
        ), 1)
        """
    )


@query("dedup_winnow", oracle=_WINNOW_ORACLE)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap candidate pairs via winnowing fingerprints:
    docs sharing >= WINNOW_MIN_SHARED selected (non-boilerplate)
    fingerprints, with the shared count as evidence weight."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    fps = docs.select(
        "doc_id", F.explode(winnow_fingerprints()).alias("fp")
    ).distinct()
    # df-cap via window count, not groupBy+self-join: the fingerprint
    # relation (per-char md5, the expensive part) is scanned ONCE and
    # shuffled once by fp; the count rides the same partitioning
    # (interleaved A/B at sf0.1: join form 1.76s, window form 1.23s)
    keep = (
        fps.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter((F.col("n") >= 2) & (F.col("n") <= FP_DF_CAP))
        .select("fp", "doc_id")
        # r14: keep feeds BOTH sides of the pair join, and the planner
        # re-ran the whole per-char-md5 fingerprint subtree into the
        # build side's BroadcastExchange (committed r14 before-plan:
        # nodes 13-24 mirror 1-12 — two full scans + two explodes).
        # The lazy pin fingerprints once; the relation is df-capped
        # posting rows, far smaller than the raw text it came from.
        .localCheckpoint(eager=False)
    )
    left = keep.select("fp", F.col("doc_id").alias("doc_a"))
    right = keep.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


_REPEATED_SPANS_ORACLE = f"""
WITH fp AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
               j -> list_min(hs[j:j + {WINNOW_W - 1}]))) AS fp
    FROM (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(length(text) - {WINNOW_K - 1}, 1) + 1),
                   i -> CAST(concat('0x', substr(md5(substr(text, i, {WINNOW_K})), 1, 8)) AS BIGINT)) AS hs
        FROM documents
    ) t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_uniq_fps,
       1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS dup_span_frac
FROM fp GROUP BY doc_id
"""


@query("quality_repeated_spans", oracle=_REPEATED_SPANS_ORACLE)
def quality_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition at the substring level: the share of a
    doc's winnowing fingerprints that are repeats of earlier spans in
    the SAME doc — the signal that catches looped/templated generation
    (lyrics choruses, boilerplate stutter, degenerate model output)
    which token-level duplicate fractions (quality_repetition)
    understate on long spans.

    Scale shape: fingerprints never leave their doc's partition — the
    aggregate keys on the unique doc_id, so this is one explode + one
    map-side-partial groupBy; no posting lists, no joins (contrast
    dedup_winnow, which shuffles by fingerprint to find CROSS-doc
    repeats)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    fps = docs.select("doc_id", F.explode(winnow_fingerprints()).alias("fp"))
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.count_distinct("fp").alias("n_uniq_fps"),
        (
            F.lit(1.0)
            - F.count_distinct("fp").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_span_frac"),
    )
