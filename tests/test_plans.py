"""Physical-plan shape assertions: the scale story lives in the plan,
not the result. These tests pin the optimizations the 100 TB design
depends on, so a refactor that silently loses one (a pushdown that stops
firing, a broadcast that becomes a shuffle) fails loudly at test scale.
"""

from __future__ import annotations

import re

from go_cdc_spark.plans.queries import QUERIES


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sim_topk_partial_topk_before_exchange(spark, sf_dir):
    """The brute-force cosine top-k must keep the rank-limit pushdown:
    a Partial-mode WindowGroupLimit BELOW the exchange trims every map
    partition to its local top-k per query, so the shuffle carries
    |Q|*k*partitions rows, never the full |Q|*|C| cross product."""
    plan = _physical(QUERIES["sim_topk"](spark, sf_dir))
    partial = re.search(r"WindowGroupLimit .*row_number\(\), \d+, Partial", plan)
    final = re.search(r"WindowGroupLimit .*row_number\(\), \d+, Final", plan)
    exchange = re.search(r"Exchange hashpartitioning\(query_id", plan)
    assert partial, f"no Partial WindowGroupLimit in plan:\n{plan}"
    assert final and exchange
    # tree prints root-first: Final above the exchange, Partial below it
    assert final.start() < exchange.start() < partial.start(), plan


def test_cdc_collapse_partial_top1_before_exchange(spark):
    """The engine's MERGE collapse stays skew-safe: a Partial-mode
    WindowGroupLimit BELOW the key exchange keeps one row per key per
    map partition, so a hot key ships at most one row per partition
    however many updates it gets."""
    from pyspark.sql import functions as F

    from go_cdc_spark.operators.cdc import cdc_collapse

    changes = spark.range(2000).select(
        (F.col("id") % 7).alias("k"),
        F.lpad(F.col("id").cast("string"), 12, "0").alias("pos"),
        F.lit("update").alias("op"),
    )
    plan = _physical(cdc_collapse(changes, ["k"], keep_deletes=True))
    partial = re.search(r"WindowGroupLimit .*row_number\(\), 1, Partial", plan)
    final = re.search(r"WindowGroupLimit .*row_number\(\), 1, Final", plan)
    exchange = re.search(r"Exchange hashpartitioning\(k", plan)
    assert partial, f"no Partial WindowGroupLimit in plan:\n{plan}"
    assert final and exchange
    # tree prints root-first: Final above the exchange, Partial below it
    assert final.start() < exchange.start() < partial.start(), plan


def test_sim_topk_scores_computed_before_shuffle(spark, sf_dir):
    """The cosine expression must be projected once, map-side (below the
    exchange) — re-deriving it above the shuffle would recompute the dot
    products |Q|*k*partitions times on the reduce side."""
    plan = _physical(QUERIES["sim_topk"](spark, sf_dir))
    exchange = plan.index("Exchange hashpartitioning(query_id")
    assert "aggregate(zip_with" in plan[exchange:], "cosine not map-side"
    assert "aggregate(zip_with" not in plan[:exchange], (
        "cosine recomputed above the shuffle"
    )


def test_q1_partial_agg_and_pushdown(spark, sf_dir):
    """Q1 keeps map-side combine (partial HashAggregate before the
    exchange) and the shipdate filter reaches the parquet scan."""
    plan = _physical(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    first_agg = plan.index("HashAggregate")
    exchange = plan.index("Exchange hashpartitioning")
    # root-first print: the agg ABOVE the exchange is final, and another
    # HashAggregate must exist BELOW it (the map-side partial)
    assert first_agg < exchange
    assert "HashAggregate" in plan[exchange:], "no map-side partial aggregate"


def test_join_broadcast_is_broadcast(spark, sf_dir):
    plan = _physical(QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_eval_side_is_broadcast(spark, sf_dir):
    """The eval shingle set must broadcast: the training side probes it
    map-side. If this degrades to a SortMergeJoin the full exploded
    training shingle stream shuffles on the shingle string — the exact
    all-pairs blowup decontamination is designed to avoid."""
    plan = _physical(QUERIES["decontaminate_ngrams"](spark, sf_dir))
    assert "BroadcastHashJoin [sh" in plan, plan
    assert "SortMergeJoin [sh" not in plan, "eval probe fell back to SMJ"


def test_cohort_user_dim_is_broadcast(spark, sf_dir):
    """first-event-per-user joins back onto the event stream as a
    broadcast — the stream side must not shuffle for the join."""
    plan = _physical(QUERIES["cohort_retention"](spark, sf_dir))
    assert "BroadcastHashJoin [user_id" in plan, plan


def test_boilerplate_partial_agg_before_exchange(spark, sf_dir):
    """Doc-frequency counting must keep map-side combine: hot n-grams
    are the whole point of the query, and without partial aggregation
    the hottest key lands on one reducer with its full row stream."""
    plan = _physical(QUERIES["boilerplate_ngrams"](spark, sf_dir))
    exchange = plan.index("Exchange hashpartitioning(ngram")
    assert "HashAggregate" in plan[exchange:], "no map-side partial aggregate"


def test_funnel_type_filters_pushed(spark, sf_dir):
    """Each funnel stage re-scans events with its event_type filter
    pushed to parquet — the scan reads one type's row groups, not the
    full stream filtered post-hoc."""
    plan = _physical(QUERIES["funnel_conversion"](spark, sf_dir))
    for t in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{t})" in plan, f"{t} filter not pushed:\n{plan}"


def test_scd2_single_entity_exchange(spark, sf_dir):
    """Both window passes (lead over all events, row_number over
    survivors) share the user_id partitioning — the plan must carry
    exactly ONE Exchange; a second one means the partitioning reuse
    broke and history derivation shuffles twice."""
    plan = _physical(QUERIES["cdc_scd2"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan


def test_profile_single_scan_expand(spark, sf_dir):
    """Multi-column exact-distinct profiling must compile to ONE scan
    of lineitem with the Expand strategy — per-column scans would read
    the table five times."""
    plan = _physical(QUERIES["profile_numeric"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_checksum_partial_agg_before_exchange(spark, sf_dir):
    """XOR digests must partially aggregate map-side (commutative), so
    the bucket shuffle carries partial rows, not the table."""
    plan = _physical(QUERIES["table_checksum"](spark, sf_dir))
    pre_exchange = plan.split("Exchange")[-1]  # text below/after is the map side
    assert "partial_bit_xor" in plan or re.search(
        r"HashAggregate.*bit_xor", pre_exchange
    ), plan


def test_chunk_documents_no_exchange(spark, sf_dir):
    """RAG chunking must stay a pure map-side Generate: any Exchange in
    the plan means the doc text is being shuffled for nothing."""
    plan = _physical(QUERIES["chunk_documents"](spark, sf_dir))
    assert "Generate explode" in plan, plan
    # the only allowed exchange is the final presentation-order sort
    n_exchanges = plan.count("Exchange ")
    n_range = plan.count("Exchange rangepartitioning")
    assert n_exchanges == n_range, f"non-sort Exchange in chunking plan:\n{plan}"


def test_unpivot_is_single_expand_scan(spark, sf_dir):
    """unpivot must compile to ONE scan + Expand (3 rows out per row
    in), never a UNION of three scans of the same file."""
    plan = _physical(QUERIES["unpivot_measures"](spark, sf_dir))
    assert "Expand" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan


def test_json_filter_applied_at_scan_stage(spark, sf_dir):
    """The predicate on the JSON-extracted value must evaluate in the
    scan stage (Filter below any exchange), so non-matching rows never
    leave it."""
    plan = _physical(QUERIES["json_extract_props"](spark, sf_dir))
    f = plan.index("Filter")
    assert "get_json_object" in plan[f : f + 400], plan
    first_ex = plan.find("Exchange ")
    assert first_ex == -1 or f > first_ex, (
        "JSON filter runs above an exchange (reduce side):\n" + plan
    )


def test_tfidf_topk_is_window_group_limit(spark, sf_dir):
    """The per-doc top-k must use WindowGroupLimit (per-group heaps),
    not a full sort of the scored term list."""
    plan = _physical(QUERIES["tf_idf_top_terms"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_q2_mins_join_reuses_partitioning(spark, sf_dir):
    """Q2's per-part MIN join-back must not introduce a third shuffle
    of the eligible pair set: eligible and mins exchange on partkey
    once each and the equality join reuses that clustering."""
    plan = _physical(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # dims + part side
    n_hash_ex = len(re.findall(r"Exchange hashpartitioning\(partkey", plan))
    assert n_hash_ex <= 2, f"extra partkey shuffle:\n{plan}"


def test_q20_single_lineitem_scan(spark, sf_dir):
    """Q20's two quantity aggregates (all-time + 1996) must come from
    ONE conditional-sum pass: exactly one lineitem scan in the plan."""
    plan = _physical(QUERIES["q20_potential_promotion"](spark, sf_dir))
    assert plan.count("Scan parquet") == 4, plan  # lineitem, part, supplier, nation
    assert len(re.findall(r"Scan parquet[^\n]*lineitem", plan)) == 1, plan


def test_sessionize_single_user_exchange(spark, sf_dir):
    """Both window passes and the session rollup must share ONE
    user_id exchange (same partitioning, same ordering prefix)."""
    plan = _physical(QUERIES["sessionize_events"](spark, sf_dir))
    n = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n == 1, f"expected one user_id exchange, got {n}:\n{plan}"


def test_stats_moments_partial_agg(spark, sf_dir):
    """The six power sums must partial-aggregate map-side — the
    exchange carries group-key x 6 decimal buffers, not raw rows."""
    plan = _physical(QUERIES["stats_moments"](spark, sf_dir))
    exchange = plan.index("Exchange hashpartitioning")
    assert "HashAggregate" in plan[exchange:], "no map-side partial aggregate"


def test_bfs_levels_broadcast_the_frontier(spark, sf_dir):
    """Every BFS level must join the |V|-bounded frontier against the
    cached edges as a BROADCAST join — a shuffle join per level would
    re-exchange the edge relation four times."""
    plan = _physical(QUERIES["bfs_distances"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]


def test_triangle_support_filter_below_wedge_join(spark, sf_dir):
    """The support>=2 filter must prune the edge relation BEFORE the
    quadratic wedge join (filter-before-explode discipline). Since r9
    the edge relation is a LAZY localCheckpoint consumed by four
    subtrees, so the filter lives inside the pinned derivation (its
    own plan) and the wedge join consumes the already-filtered
    materialization — assert both halves."""
    from go_cdc_spark.operators.graph import _copurchase_edges

    edge_plan = _physical(_copurchase_edges(spark, sf_dir))
    agg = edge_plan.index("HashAggregate")
    assert re.search(r"\(support#\d+L >= 2\)", edge_plan[:agg]), (
        "support filter not above (i.e. applied to) the edge aggregation"
    )
    plan = _physical(QUERIES["triangle_count"](spark, sf_dir))
    # wedge self-join on the orientation's src key, consuming the pin.
    # Strategy may be SMJ or (since the r13 basket-first edge
    # derivation, whose lazy checkpoint carries a smaller size
    # estimate) a broadcast hash join at test scale — what matters is
    # that it stays an EQUI join on src; past the broadcast threshold
    # the planner reverts to SMJ on its own.
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin) \[src#\d+L\]", plan), (
        plan[:1500]
    )
    assert "CartesianProduct" not in plan


def test_sparse_tfidf_no_cartesian(spark, sf_dir):
    """The posting-list self-join must stay an equi-join on token —
    a cartesian product here is the |corpus|^2 wall."""
    plan = _physical(QUERIES["sim_sparse_tfidf"](spark, sf_dir))
    assert "CartesianProduct" not in plan

    
def test_asof_nearest_single_exchange(spark, sf_dir):
    """Both directional frames must ride ONE user_id exchange — the
    sort order is shared, so a second exchange means the window specs
    diverged."""
    plan = _physical(QUERIES["join_asof_nearest"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:1500]


def test_bloom_prune_probe_is_map_side(spark, sf_dir):
    """join_bloom_prune's bitmap probe must run BELOW the aggregation
    exchange (inside the fact-side map stage): the fact table reaches
    its only hash-partitioned shuffle already pruned, and both the
    bitmap and the exact verify side arrive via broadcast — no
    fact-side shuffle before the filter."""
    plan = _physical(QUERIES["join_bloom_prune"](spark, sf_dir))
    exchange = plan.index("Exchange hashpartitioning(l_returnflag")
    probe = plan.index("bloom_words")
    assert probe > exchange, "bloom probe above the agg exchange:\n" + plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    semi = plan.index("BroadcastHashJoin [l_orderkey")
    assert semi > exchange, plan


def _shuffle_stages(df) -> set:
    """Unique shuffle-stage ids in the FINAL adaptive plan, excluding
    cached-relation build plans (their one-time build shuffles are not
    per-query loop cost). Stage ids dedupe re-printed shared stages."""
    df.collect()  # finalize the adaptive plan
    fp = df._jdf.queryExecution().executedPlan().finalPhysicalPlan()
    seen: set = set()

    def walk(node):
        name = node.nodeName()
        if "TableCacheQueryStage" in name or "InMemoryTableScan" in name:
            return
        if "ShuffleQueryStage" in name:
            seen.add(node.id())
        if "QueryStage" in name:
            try:
                walk(node.plan())
                return
            except Exception:
                pass
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(fp)
    return seen


def test_pagerank_loop_is_copartitioned(spark, sf_dir):
    """Each PageRank iteration joins the cached hash(src, P) edge
    relation with the previous iteration's rank, which leaves the dst
    aggregation already hash-partitioned on the same key space — so
    the WHOLE query runs exactly _ITERS + 1 shuffles: one contribution
    aggregation per iteration plus the final global sort. An exchange
    feeding the rank side of the join (the r4 plan) would add up to
    _ITERS more |V|-row shuffles; this pins its absence. (At test
    scale AQE may demote individual co-partitioned joins to broadcast
    — that is runtime adaptivity, not a lost shuffle, and doesn't
    change the count.)"""
    from go_cdc_spark.operators import graph as g

    stages = _shuffle_stages(QUERIES["pagerank_purchase_graph"](spark, sf_dir))
    assert len(stages) == g._ITERS + 1, stages


def test_sssp_relaxation_join_is_copartitioned(spark, sf_dir):
    """Bellman-Ford runs one min-merge aggregation shuffle per
    relaxation round plus one seed-side exchange (the 1-row round-0
    dist is the only dist relation not born co-partitioned); the
    pinned hash(src, P) edge cache never re-shuffles."""
    from go_cdc_spark.operators import graph as g

    stages = _shuffle_stages(QUERIES["sssp_weighted"](spark, sf_dir))
    assert len(stages) <= g._SSSP_HOPS + 1, stages


def test_broadcast_degradation_parity(spark, sf_dir):
    """Broadcast-degradation safety at scale boundaries: the SF-growing
    join sides in the TPC-H archetypes carry NO broadcast hint, so when
    a dimension outgrows the threshold the optimizer degrades to a
    shuffle join instead of OOMing an executor. Simulate "dim outgrew
    broadcast" by disabling auto-broadcast entirely and assert (a) a
    shuffle join (SortMerge/ShuffledHash) actually appears where the
    broadcast was, and (b) results stay hash-identical to the
    default-config run."""
    import pandas as pd

    targets = ["q8_market_share", "q2_min_cost_supplier", "q18_large_volume"]
    before = {}
    for name in targets:
        df = QUERIES[name](spark, sf_dir)
        before[name] = df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for name in targets:
            df = QUERIES[name](spark, sf_dir)
            df.collect()  # finalize adaptive plan
            plan = _physical(df)
            assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
                f"{name}: no shuffle join appeared with broadcasts disabled"
            )
            after = df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)
            pd.testing.assert_frame_equal(before[name], after)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_new_ann_routes_keep_partial_topk(spark, sf_dir):
    """sim_lsh_multiprobe and sim_ivf_nprobe2 must keep the same
    rank-limit pushdown as sim_topk: a Partial WindowGroupLimit below
    the query_id exchange trims each map partition to its local top-k,
    so the shuffle carries |Q|×k×partitions rows, not every scored
    candidate."""
    for name in ("sim_lsh_multiprobe", "sim_ivf_nprobe2"):
        plan = _physical(QUERIES[name](spark, sf_dir))
        partial = re.search(r"WindowGroupLimit .*row_number\(\), \d+, Partial", plan)
        exchange = re.search(r"Exchange hashpartitioning\(query_id", plan)
        assert partial and exchange, f"{name}: pushdown missing:\n{plan[:1200]}"
        assert exchange.start() < partial.start(), name


def test_dsir_weight_table_broadcast_and_topk_bounded(spark, sf_dir):
    """DSIR's 256-row weight model must reach the token stream as a
    BroadcastHashJoin (never a shuffle of the corpus tokens), and the
    selection must compile to TakeOrderedAndProject (k rows per
    partition to the driver merge, no global sort)."""
    plan = _physical(QUERIES["sample_importance_dsir"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # doc scoring keeps a map-side partial before the doc_id exchange
    exchange = plan.index("Exchange hashpartitioning(doc_id")
    assert "HashAggregate" in plan[exchange:], "no map-side partial sum"


def test_rp_reduce_is_pure_map(spark, sf_dir):
    """The sketch projection must not shuffle anything except the
    output ordering: no hash-partitioned exchange, no join — the ±1
    matrix lives in the plan as literals."""
    plan = _physical(QUERIES["embed_rp_reduce"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan
    assert "aggregate(zip_with" in plan  # the literal-plane fold


def test_lpa_vote_topk_is_window_group_limit(spark, sf_dir):
    """Each LPA round's per-node top-1 vote must keep the rank-limit
    pushdown (Partial WindowGroupLimit below the exchange), the
    sim_topk shape — losing it shuffles every (node, label) vote."""
    plan = _physical(QUERIES["graph_label_prop"](spark, sf_dir))
    assert re.search(r"WindowGroupLimit .*row_number\(\), 1, Partial", plan), plan


def test_resample_grid_join_is_broadcast(spark, sf_dir):
    """The dense-grid left join must broadcast the aggregated side
    (row count <= grid cells by construction) and keep a map-side
    partial HashAggregate below the (event_type, hour) exchange —
    the raw event stream must never be shuffled row-by-row."""
    plan = _physical(QUERIES["resample_gapfill"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]
    exchange = plan.index("Exchange hashpartitioning(event_type")
    assert "HashAggregate" in plan[exchange:], "no map-side partial agg"


def test_corpus_zipf_cuts_vocab_with_take_ordered(spark, sf_dir):
    """The top-50 cut must compile to TakeOrderedAndProject (k rows per
    partition to a driver merge) — a global Sort of the vocabulary
    would be the scale killer the design avoids."""
    plan = _physical(QUERIES["corpus_zipf"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1200]


def test_link_prediction_ranking_is_take_ordered(spark, sf_dir):
    """Top-k prediction ranking: TakeOrderedAndProject, no global sort
    of the candidate pairs; existing edges leave via a hash anti-join."""
    plan = _physical(QUERIES["graph_link_prediction"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    assert "LeftAnti" in plan, "existing-edge exclusion is not an anti-join"


def test_covariance_partials_fold_before_exchange(spark, sf_dir):
    """The dim-pair Gram aggregation must keep its map-side partial:
    the exchange carries dim^2 x partitions partial sums, never the
    exploded product rows."""
    plan = _physical(QUERIES["embed_covariance"](spark, sf_dir))
    exchange = plan.index("Exchange hashpartitioning(i")
    assert "HashAggregate" in plan[exchange:], "no map-side partial agg"


def test_whiten_is_broadcast_map_only(spark, sf_dir):
    """Whitening: dim-row stats broadcast back onto the element stream;
    the corpus itself must not shuffle (no SortMergeJoin, no exchange
    keyed by vec_id)."""
    plan = _physical(QUERIES["embed_whiten"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_agg_mode_rank_limit_and_partial_agg(spark, sf_dir):
    """Mode = histogram + top-1: the histogram groupBy must keep its
    map-side partial, and the top-1 window must ride the rank-limit
    pushdown (Partial WindowGroupLimit) — losing either turns a
    histogram-sized window into a full-value-set shuffle."""
    plan = _physical(QUERIES["agg_mode"](spark, sf_dir))
    assert re.search(r"WindowGroupLimit .*row_number\(\), 1, Partial", plan), plan
    assert "partial_count" in plan, plan


def test_win_distribution_single_window_node(spark, sf_dir):
    """percent_rank / cume_dist / ntile share one partition+order spec,
    so they must compile into ONE Window node (one sort) — a refactor
    that splits the spec would sort the relation three times."""
    plan = _physical(QUERIES["win_distribution"](spark, sf_dir))
    assert plan.count("Window [") == 1, plan


def test_interval_overlap_is_equi_join_not_cartesian(spark, sf_dir):
    """The overlap predicate must ride INSIDE the custkey equi-join —
    a CartesianProduct / BroadcastNestedLoopJoin here is the
    all-pairs-of-orders scale killer."""
    plan = _physical(QUERIES["join_interval_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[o_custkey", plan), plan[:1500]


def test_ngram_novelty_distinct_before_anti_join(spark, sf_dir):
    """Both gram sides must dedupe BEFORE the gram join (distinct-first
    discipline): the train side's two-phase distinct aggregate has to
    sit below the join in the tree. r14: the LeftAnti + separate
    per-doc total pass became ONE LeftOuter seen-flag join feeding a
    single doc_id aggregate (one holdout explode instead of two) — pin
    the outer join + the distinct aggregate instead of the anti
    strategy name, and pin that the old second holdout pass stays
    gone (exactly one gram-keyed join)."""
    plan = _physical(QUERIES["ngram_novelty"](spark, sf_dir))
    outer = re.search(
        r"Join LeftOuter|BroadcastHashJoin .*LeftOuter|SortMergeJoin .*LeftOuter",
        plan,
    )
    assert outer, plan[:1500]
    assert re.search(r"HashAggregate\(keys=\[sh", plan), plan[:1500]
    # the old shape's second holdout pass is gone: no anti-join remains
    assert "LeftAnti" not in plan, plan[:1500]


def test_coverage_md_header_count_matches_registry():
    """VERDICT r8+r9 both flagged COVERAGE.md's §2.B header count as
    stale — pin it to the live registry so it can never drift again."""
    import os
    import re

    from go_cdc_spark.plans.queries import QUERIES

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    text = open(path).read()
    m = re.search(r"queries\(\), (\d+) total", text)
    assert m, "COVERAGE.md §2.B header count missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md says {m.group(1)} but the registry has {len(QUERIES)} — "
        "update the §2.B header"
    )


# -- BNLJ lint (VERDICT r11 #6) ---------------------------------------------
# Every BroadcastNestedLoopJoin in the audited plans is a 1-row bound or
# a scalar broadcast today, but nothing stops the next operator from
# introducing an unbounded one — the all-pairs blowup the zero-
# CartesianProduct checks above exist to prevent. This lint re-derives
# the plans of the headline set plus EXTRA and fails on any BNLJ
# whose broadcast build side isn't provably bounded: a scalar aggregate
# (empty grouping -> exactly 1 row), an explicit limit, or
# driver-literal data.

# non-headline queries whose plan shape is audited alongside bench.HEADLINE
EXTRA = [
    "bfs_distances",
    "triangle_count",
    "sim_sparse_tfidf",
    "join_asof_forward",
    "join_asof_nearest",
    "k_anonymity_audit",
    "dedup_minhash_quality",
    "dedup_embedding_quality",
    "dedup_simhash_quality",
]

_BOUNDED_LIMITS = {
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "TakeOrderedAndProject",
    "LocalTableScan",  # driver-literal rows (bounds tables)
}


def _jwalk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


_ID_BOUND = re.compile(r"\b\w*id#\d+L? <=? \d+\b")


def _build_side_bounded(node) -> bool:
    for m in _jwalk(node):
        name = m.nodeName()
        if name in _BOUNDED_LIMITS:
            return True
        if name.startswith("Scan ExistingRDD"):
            # driver-materialized DataFrame (createDataFrame of
            # catalog-rate rows — every such site is audited to be
            # counted-bounded elsewhere)
            return True
        if "Aggregate" in name:
            try:
                if m.groupingExpressions().isEmpty():
                    return True  # scalar aggregate: exactly one row
            except Exception:  # noqa: BLE001 — non-agg node with the name
                pass
        if name == "Filter" and _ID_BOUND.search(m.toString().splitlines()[0]):
            # the repo's bounded-sample idiom: a strict integer upper
            # bound on an id column (`vec_id < 8`) pins the sample to a
            # FIXED row count at any SF — unlike a value predicate
            # (`quantity < 24`), which scales with the data and would
            # NOT pass this lint
            return True
    return False


def test_bnlj_build_sides_are_bounded(spark, sf_dir):
    import bench

    names = list(dict.fromkeys(bench.HEADLINE + EXTRA))
    offenders = []
    for name in names:
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().sparkPlan()
        for n in _jwalk(plan):
            if n.nodeName() != "BroadcastNestedLoopJoin":
                continue
            build = (
                n.left()
                if "BuildLeft" in n.buildSide().toString()
                else n.right()
            )
            if not _build_side_bounded(build):
                offenders.append((name, n.toString().splitlines()[0]))
    assert not offenders, (
        "BroadcastNestedLoopJoin with an UNBOUNDED build side — an "
        f"all-pairs blowup at scale: {offenders}"
    )
