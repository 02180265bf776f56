"""Physical-plan contracts: the scale-design claims each operator's
docstring makes must be visible in the plan Catalyst actually produces,
and must stay that way. Checked on sf0.001 (plan shape is scale-
independent; only the data volume differs).

Global contract: NO registered query may plan a CartesianProduct. The
documented brute baselines (knn_brute_cosine, dedup_simhash,
dedup_embedding_cosine) pair every row with every row *by design*, but
even they must do it through a broadcast nested-loop join (one side
bounded/broadcast), never a full shuffle cartesian.

Targeted contracts: the specific physical operators that make a query
scale — WindowGroupLimit for per-group top-k, TakeOrderedAndProject for
global top-k, broadcast joins for small sides — are asserted per query.
"""

from __future__ import annotations

import pytest

from k8s_log_etl_spark.config import PipelineConfig
from k8s_log_etl_spark.fixtures import fixture_df
from k8s_log_etl_spark.operators import lognorm
from k8s_log_etl_spark.plans.registry import load_all

SPECS = load_all()
SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def plan_cache(spark, request):
    """Final-frame plan strings for every parametrized plan test in
    this run, built CONCURRENTLY once (round-14, guide §2.6): building
    an iterative query's final frame executes its driver sync points
    (select_kcenter_coreset alone was 104 s serial), and the 239-query
    no-cartesian sweep re-built every plan serially. Assertions and
    failure attribution stay in the individual tests; a build error is
    re-raised inside that query's own test. Only names collected this
    run are built."""
    from conftest import run_surface

    wanted = {
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "callspec", None) is not None
        and "name" in item.callspec.params
        and item.function.__name__
        in ("test_no_cartesian_product_anywhere", "test_plan_contract")
    }
    return run_surface(sorted(wanted), lambda n: _plan(spark, n))


def _cached_plan(plan_cache, spark, name: str) -> str:
    ok, val = plan_cache.get(name, (None, None))
    if ok is None:  # not prebuilt (e.g. direct invocation) — build now
        return _plan(spark, name)
    if not ok:
        raise val
    return val


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_cartesian_product_anywhere(spark, name, plan_cache):
    assert "CartesianProduct" not in _cached_plan(plan_cache, spark, name), (
        f"{name} plans a CartesianProduct — an unbounded all-pairs shuffle; "
        "broadcast the bounded side or key the join"
    )


# query -> (must-contain fragments, must-not-contain fragments)
CONTRACTS = {
    # per-group top-k must prune to k rows per partition before the sort
    "sample_stratified_topk": (["WindowGroupLimit"], []),
    "window_topk_per_customer": (["WindowGroupLimit"], []),
    "text_top_bigrams": (["WindowGroupLimit"], []),
    # global top-k must not global-sort
    "tfidf_top_terms": (["TakeOrderedAndProject"], []),
    "topk_global_orders": (["TakeOrderedAndProject"], []),
    # the sub-quadratic dedup/ANN paths must be keyed equi-joins
    # the signature frame must be materialized once (localCheckpoint →
    # Scan ExistingRDD) and the band join stays a keyed equi-join (AQE
    # picks broadcast at tiny SF, sort-merge at scale — both fine)
    "dedup_minhash_lsh": (["Scan ExistingRDD"], ["NestedLoop"]),
    "dedup_simhash_banded": ([], ["NestedLoop"]),
    # perceptual near-dup: signatures materialized once (checkpoint),
    # candidates via the keyed (band, value) equi-join — never all-pairs
    "dedup_perceptual_ahash": (["Scan ExistingRDD"], ["NestedLoop"]),
    # incremental near-dup: the corpus band INDEX and the signature
    # frame are materialized once (checkpoints); both probe joins are
    # keyed equi-joins
    "dedup_minhash_incremental": (["Scan ExistingRDD"], ["NestedLoop"]),
    "dedup_embedding_lsh": ([], ["NestedLoop"]),
    "knn_lsh_hyperplane": (["BroadcastHashJoin"], ["NestedLoop"]),
    "knn_ivf_grid": (["BroadcastHashJoin"], ["NestedLoop"]),
    # hard-negative mining: same probed-cell equi-join as knn_ivf_grid,
    # band filter before the per-anchor window, top-k prunes map-side
    "knn_hard_negatives": (
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["NestedLoop"],
    ),
    # retrieval eval: rides the RAG output; label joins broadcast
    "retrieval_eval_ndcg": (["BroadcastHashJoin"], ["NestedLoop"]),
    # BM25 serving: the query frame broadcasts into the persisted
    # postings/terms scans (keyed equi-joins), top-k prunes map-side
    # (the only NLJ is the one-row totals scalar)
    "bm25_index_serve": (["BroadcastHashJoin", "WindowGroupLimit"], []),
    # BM25 incremental maintenance: same probe shape over the merged
    # (persisted ∪ delta) postings; delta postings materialized once
    # for their two consumers
    "bm25_index_delta_serve": (
        ["BroadcastHashJoin", "WindowGroupLimit", "Scan ExistingRDD"],
        [],
    ),
    # skew profiler: one hash-agg over the fact table, top-k via
    # per-partition heaps, totals as a broadcast one-row frame (the
    # only NLJ), rank window AFTER the limit
    "profile_key_skew": (
        ["TakeOrderedAndProject", "BroadcastNestedLoopJoin"],
        [],
    ),
    # leakage guard: pair set materialized once, split predicates
    # map-side, leak joins keyed
    "eval_holdout_decontaminated": (["Scan ExistingRDD"], ["NestedLoop"]),
    # tokenizer-aware packing: word prices come off the checkpointed
    # encoded vocabulary; the corpus-sized work is one scan + hash-agg
    "pack_chunks_bpe_budget": (["Scan ExistingRDD"], []),
    # keeper remap: labels off the checkpointed cc rounds, one
    # WindowGroupLimit for the policy, keyed joins only
    "dedup_keeper_remap": (
        ["WindowGroupLimit", "Scan ExistingRDD"],
        ["NestedLoop"],
    ),
    # FK audit: every edge one keyed left join, dimension parents
    # broadcast, no all-pairs anywhere
    "dq_referential_integrity": (["BroadcastHashJoin"], ["NestedLoop"]),
    # interval overlap: boundary sweep + per-key window — NEVER an
    # interval-vs-interval join
    "supplier_shipment_overlap": (["Window"], ["NestedLoop"]),
    # record linkage: keyed block join + per-dirty-record top-1
    "entity_resolve_parts": (["WindowGroupLimit"], ["NestedLoop"]),
    # the brute baselines: broadcast NLJ is the only acceptable shape
    "knn_brute_cosine": (["BroadcastNestedLoopJoin"], []),
    # small-dim joins broadcast
    "q5_regional_revenue": (["BroadcastHashJoin"], []),
    "benchmark_contamination": (["BroadcastHashJoin"], []),
    # per-type stats joined back as a broadcast, filter stays narrow
    "events_anomaly_zscore": (["BroadcastHashJoin"], []),
    # funnel: keyed hash join (the time bound rides as a post-join
    # filter), never a pure cross product
    "events_funnel": ([], ["NestedLoop"]),
    # rolling range frame: one Window, no self-join
    "events_rolling_1h": (["Window"], ["Join"]),
    # cut-point RFM: the quartiles come from a broadcast percentile
    # aggregate, NEVER a global ntile sort — no Window may appear
    # (which also rules out ntile: every ntile lives in a Window)
    "rfm_segments": ([], ["Window"]),
    # --- round-3b additions ---
    # split assignment is a pure map-side function of the row key: one
    # aggregate, no join, no window
    "split_train_holdout": ([], ["Join", "Window"]),
    # chunking is sequence+explode on the row itself: no keyed shuffle
    # (the only Exchange allowed is the tiny-fixture round-robin
    # repartition from ensure_min_parallelism — a no-op at scale)
    "chunk_sliding_windows": (["Generate"], ["hashpartitioning", "Join"]),
    # q10: top-20 must be TakeOrderedAndProject, dims broadcast
    "q10_returned_items": (["TakeOrderedAndProject", "BroadcastHashJoin"], []),
    # q7: every dimension leg (supplier/customer/nation x2) broadcasts;
    # only the lineitem-orders fact join may shuffle
    "q7_volume_shipping": (["BroadcastHashJoin"], ["NestedLoop"]),
    # q19: the disjunctive predicate must partially push below the join
    # (PushedFilters on the part scan), part side broadcast
    "q19_disjunctive_revenue": (["BroadcastHashJoin"], ["NestedLoop"]),
    # containment: same inverted-index equi-join discipline as jaccard
    "dedup_containment": (["Scan ExistingRDD"], ["NestedLoop"]),
    # DAU/WAU: pair-dedup + explode + hash-aggs; never a range self-join
    "events_dau_wau": (["Generate"], ["NestedLoop"]),
    # per-dim stats broadcast back onto elements
    "embedding_quantize_int8": (["BroadcastHashJoin"], ["NestedLoop"]),
    # decontam: benchmark gram set broadcast into the semi-join
    "decontam_filter_corpus": (["BroadcastHashJoin"], ["NestedLoop"]),
    # kmeans assignment: centroids ride as literal arrays, so the
    # per-round assignment is a pure map-side pass — no join of any
    # kind in the final plan, one aggregate on cluster id
    "kmeans_ivf_train": ([], ["Join"]),
    # boilerplate census: global top-k must be TakeOrderedAndProject,
    # and the whole query is explode + one agg — no join
    "text_boilerplate_phrases": (["TakeOrderedAndProject"], ["Join"]),
    # transition matrix: lag window partitioned by user_id (local
    # per-user sort), row totals joined back broadcast
    "events_markov_transitions": (["Window", "BroadcastHashJoin"], ["NestedLoop"]),
    # BPE pair stats: token stream collapses to the vocab FIRST, pairs
    # expand per distinct word, top-k never global-sorts
    "bpe_pair_stats": (["TakeOrderedAndProject"], ["NestedLoop"]),
    # BPE encode: the merge loop runs behind a per-round checkpoint, so
    # the SERVING plan is vocabulary-sized work off the materialized
    # encoding (Scan ExistingRDD) — global top-k prunes map-side, the
    # corpus_tokens scalar arrives as a broadcast one-row frame (the
    # only NLJ), and no plan node ever re-derives the merge rounds
    "bpe_encode_corpus": (
        ["TakeOrderedAndProject", "Scan ExistingRDD", "BroadcastNestedLoopJoin"],
        [],
    ),
    # incremental dedup: keyed hash join + hash-keyed window; never an
    # all-pairs shape
    "dedup_incremental_batch": (["Window"], ["NestedLoop"]),
    # PQ training: like kmeans, assignment rides literal centroids —
    # join-free map-side pass, one (m, k) aggregate
    "pq_codebook_train": ([], ["Join"]),
    # edit-distance verify runs ONLY over inverted-index candidates
    # (checkpointed grouped postings), never an all-pairs product
    "dedup_edit_distance": (["Scan ExistingRDD"], ["NestedLoop"]),
    # weighted top-N sample: integer priorities, per-partition heaps —
    # no global sort, no join, no window
    "sample_weighted_topn": (["TakeOrderedAndProject"], ["Join", "Window"]),
    # Q4 EXISTS: a LeftSemi with the date residual riding the join
    "q4_order_priority": (["LeftSemi"], ["NestedLoop"]),
    # bot rate: two keyed hash-aggs, nothing else
    "events_bot_rate_flags": ([], ["Join", "Window"]),
    # YoY: the lag window runs over the aggregated (nation, year)
    # frame, never raw orders; dims broadcast
    "nation_revenue_yoy": (["Window", "BroadcastHashJoin"], ["NestedLoop"]),
    # MAD: both stat frames broadcast back, flagging map-side
    "part_price_outliers_mad": (["BroadcastHashJoin"], ["NestedLoop"]),
    # mix capstone: bench grams broadcast semi-join; sampling + split
    # are map-side hash predicates
    "training_mix_pipeline": (["BroadcastHashJoin"], []),
    # --- round-3c additions ---
    # q15: Catalyst turns the equality-against-broadcast-max filter
    # into a BroadcastHashJoin keyed on the revenue itself — the 1-row
    # max side broadcasts, nothing nested-loops
    "q15_top_supplier": (["BroadcastHashJoin"], ["NestedLoop"]),
    # q17: correlated avg decorrelates to a keyed join — no re-scan loop
    "q17_small_qty_revenue": ([], ["NestedLoop"]),
    # q18: top-100 via per-partition heaps; facts never nested-loop
    "q18_large_volume_orders": (["TakeOrderedAndProject"], ["NestedLoop"]),
    # q21: EXISTS/NOT-EXISTS collapsed into one aggregate — no loop,
    # top-10 via TakeOrderedAndProject (single-scan pin is a dedicated
    # test below)
    "q21_sole_late_supplier": (["TakeOrderedAndProject"], ["NestedLoop"]),
    # q22: global-scalar threshold is a 1-row broadcast; NOT EXISTS is
    # a LeftAnti
    "q22_dormant_customers": (["BroadcastNestedLoopJoin", "LeftAnti"], []),
    # whole-partition frame: one window, no join anywhere
    "orders_vs_peer_avg": (["Window"], ["Join"]),
    "orders_window_analytics": (["Window"], ["Join"]),
    # bag set-ops stay keyed
    "set_ops_multiset_orders": ([], ["NestedLoop"]),
    # gopher rules: array HOFs + one tally — no join, no window
    "text_gopher_rules": ([], ["Join", "Window"]),
    # SQ8 ADC: per-query top-k prunes map-side
    "knn_sq8_adc": (["WindowGroupLimit"], []),
    # IVF-PQ: probes broadcast into the index as a keyed hash join;
    # never a loop join anywhere in train+search
    "knn_ivfpq_adc": (["BroadcastHashJoin", "WindowGroupLimit"], ["NestedLoop"]),
    # market basket: pairs expand map-side (Generate), top-20 heaps
    "parts_copurchased": (["TakeOrderedAndProject", "Generate"], []),
    # conversion latency: two keyed min-aggs, no per-user window scan
    "events_time_to_convert": ([], ["NestedLoop", "Window"]),
    # zipf: per-lang top-100 prunes map-side
    "text_zipf_slope": (["WindowGroupLimit"], ["NestedLoop"]),
    # bloom: the sketch is a 1-row broadcast array; membership is
    # lookups, not a join
    "decontam_bloom_prescreen": (["BroadcastNestedLoopJoin"], []),
    # seasonality: one map-side-combined aggregate
    "events_weekly_seasonality": ([], ["Join", "Window"]),
    # multimodal capstone: budget prunes per-source map-side
    "multimodal_curation_pipeline": (["WindowGroupLimit"], ["NestedLoop"]),
    # feature extract: one Arrow pass + keyed join + tally
    "multimodal_feature_extract": ([], ["NestedLoop", "Window"]),
    # null semantics: pure aggregation / keyed hash joins
    "agg_null_semantics": ([], ["Join", "Window"]),
    "join_null_safe": ([], ["NestedLoop"]),
    # DQ gate: FK checks are LeftAnti, never row-at-a-time lookups
    "dq_constraint_checks": (["LeftAnti"], ["NestedLoop"]),
    # CDC diff: keyed full-outer over fingerprints, no loop join
    "corpus_snapshot_diff": (["FullOuter"], ["NestedLoop"]),
    # --- round-4 additions ---
    # SemDeDup: the pair join is keyed on the trained cell id — the
    # quadratic work is confined within cells, never a loop/cross join
    "dedup_semantic_cells": ([], ["NestedLoop"]),
    # span contamination: bench grams broadcast (leftsemi), islands via
    # one window over the hit-sparse frame
    "contamination_spans": (["BroadcastHashJoin", "Window"], ["NestedLoop"]),
    # salted join: the dim side replicates via Generate (explode of the
    # salt array) and the fact join stays a keyed equi-join
    "join_skew_salted": (["Generate"], ["NestedLoop"]),
    # estimator eval: candidates from the keyed (band, bsig) join; the
    # exact-Jaccard legs are keyed doc_id joins over set arrays
    "minhash_estimate_quality": ([], ["NestedLoop"]),
    # batch sessionization: lag + running sum share one sort/exchange,
    # no join anywhere
    "events_sessionize": (["Window"], ["Join"]),
    # keep-best policy: per-cluster winner pruned map-side before the
    # window shuffle; label/doc joins stay keyed
    "dedup_keep_best": (["WindowGroupLimit"], ["NestedLoop"]),
    # pagination: a bounded limit frontier, never a full global Sort
    # materialization (TakeOrderedAndProject carries offset+limit)
    "orders_page_offset": (["TakeOrderedAndProject"], []),
    # two-stage refine: ADC shortlist prunes map-side, the k-bounded
    # shortlist broadcasts into the corpus for the full-vector fetch;
    # never a loop join anywhere in train+search+refine
    "knn_ivfpq_refine": (
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["NestedLoop"],
    ),
    # substring spans: dup grams from a partial-combined hash-agg
    # (HashAggregate appears map-side), the occurrence/dup join is a
    # keyed LeftSemi (no forced broadcast hint — Catalyst may still
    # pick broadcast at fixture scale from size stats, which is the
    # right call there), islands via one window over hit positions
    "dedup_substring_spans": (
        ["HashAggregate", "LeftSemi", "Window"],
        ["NestedLoop"],
    ),
    # RAG capstone: bounded query frame broadcast into the bucket
    # equi-join (corpus index never shuffles), per-query top-k prunes
    # map-side; chunk+embed+bucket all codegen'd expressions
    "rag_retrieval_pipeline": (
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["NestedLoop"],
    ),
    # SCD2 fold: the close/open legs are keyed semi/anti joins off the
    # CHECKPOINTED diff frame (Scan ExistingRDD — the full-outer
    # fingerprint join runs once behind it, so it no longer appears in
    # the serving plan); never a loop join, never a window
    "corpus_scd2_history": (
        ["LeftSemi", "LeftAnti", "ExistingRDD"],
        ["NestedLoop", "Window"],
    ),
    # one-pass profile: multi-column count(DISTINCT) planned via
    # Expand off a SINGLE scan — never the per-column union of
    # aggregates (5 scans of the table)
    "profile_documents": (["Expand"], ["Union"]),
    # numeric RANGE frame: one window, no self-join
    "orders_price_range_frame": (["Window"], ["Join"]),
    # --- round-5 additions ---
    # span excision: the apply step is ONE keyed join of the grouped
    # span frame onto documents followed by a map-side HOF rewrite —
    # the detector's islands Window is upstream; the apply itself adds
    # a hash-agg (collect_list per doc) + keyed join, never a loop
    # join (tests/test_spans.py pins the apply-step plan in isolation)
    "dedup_excise_spans": (["HashAggregate"], ["NestedLoop"]),
    "decontam_excise_spans": (["HashAggregate"], ["NestedLoop"]),
    # SCD2 fold across a schema change: identical serving shape to
    # corpus_scd2_history — schema alignment is a map-side projection
    # and must add no join/window
    "corpus_scd2_schema_evolution": (
        ["LeftSemi", "LeftAnti", "ExistingRDD"],
        ["NestedLoop", "Window"],
    ),
    # integer PageRank: every power iteration runs keyed join + agg
    # behind a localCheckpoint, so the SERVING plan must be a pure
    # projection over the materialized rank vector (Scan ExistingRDD)
    # — re-deriving the loop per consumer would be the multi-consumer
    # pathology round 4 eliminated elsewhere
    "graph_pagerank_copurchase": (
        ["ExistingRDD"],
        ["NestedLoop", "Window", "Join", "HashAggregate"],
    ),
    # bounded BFS: same serving discipline — every frontier round runs
    # behind a localCheckpoint, the served frame is a projection over
    # the materialized label set
    "graph_bfs_hops": (
        ["ExistingRDD"],
        ["NestedLoop", "Window", "Join", "HashAggregate"],
    ),
    # LOCF gap fill: the spine is an explicit broadcast densification
    # (bounded |types| x |hours| — BroadcastNestedLoopJoin, never a
    # shuffle cartesian), the forward fill is ONE window over a ROWS
    # frame partitioned on the series key
    "events_gap_fill_locf": (
        ["BroadcastNestedLoopJoin", "Window"],
        ["CartesianProduct"],
    ),
    # fact-to-SCD2-dimension temporal join: keyed equi-join with the
    # validity interval as a post-join filter + one year hash-agg —
    # never a range cross-product, no window
    "join_scd2_dimension": (["HashAggregate"], ["NestedLoop", "Window"]),
    # prefix-filtered exact jaccard: per-doc ranking window over the
    # CHECKPOINTED shingle frame; candidate + verify joins all keyed
    "dedup_prefix_filter_jaccard": (
        ["Window", "ExistingRDD"],
        ["NestedLoop"],
    ),
    # Q2 shape: correlated-min decorrelated into a per-part window;
    # tie-broken LIMIT must prune map-side, dims broadcast
    "q2_min_cost_supplier": (
        ["Window", "TakeOrderedAndProject", "BroadcastHashJoin"],
        ["NestedLoop"],
    ),
    # Q9 shape: 5-way keyed join, dims broadcast, one (nation, year)
    # hash-agg; profit expression stays in codegen — no window
    "q9_product_profit": (["BroadcastHashJoin", "HashAggregate"], ["NestedLoop", "Window"]),
    # Q11 shape: the scalar national total crosses on as a one-row
    # broadcast (the only acceptable NLJ), share test stays a filter
    "q11_important_stock": (["BroadcastNestedLoopJoin", "HashAggregate"], []),
    # Q16 shape: NOT IN as a broadcast anti join, distinct-count agg
    "q16_supplier_counts": (["BroadcastHashJoin", "HashAggregate"], ["NestedLoop", "Window"]),
    # Q20 shape: both INs as keyed semi-joins, correlated aggregate
    # pre-grouped then joined — never a per-row subquery loop
    "q20_recent_demand_suppliers": (["LeftSemi"], ["NestedLoop", "Window"]),
    # WordPiece encode: the piece vocabulary rides as a ONE-row
    # broadcast map frame (BroadcastNestedLoopJoin) over the
    # checkpointed final vocab — never a collect + create_map literal
    # embedded in the plan (a 30k-piece production vocabulary would be
    # a driver/plan-size hazard)
    "wordpiece_encode_corpus": (
        ["BroadcastNestedLoopJoin", "Scan ExistingRDD"],
        [],
    ),
    # BM25: the inverted index (postings) is built once (checkpoint)
    # and probed by a BROADCAST of the small query-term frame — the
    # unbounded index side never broadcasts; the only NLJs are the
    # 1-row corpus-total broadcasts (the q11-sanctioned scalar form),
    # and top-k prunes map-side
    "text_bm25_retrieval": (
        ["BroadcastHashJoin", "Scan ExistingRDD", "WindowGroupLimit"],
        [],
    ),
    # winnowing: fingerprint pairs expand map-side from capped
    # per-fingerprint doc sets (grouped expansion) — never an uncapped
    # fingerprint self-join
    "text_winnow_fingerprints": ([], ["NestedLoop"]),
    # rendezvous sharding: assignment is map-side array arithmetic;
    # shuffles collapse to |shards| rows before the one keyed join
    "corpus_shard_rendezvous": ([], ["NestedLoop", "Window"]),
    # keyset pagination: cursor derivation AND page fetch are both
    # TakeOrderedAndProject (per-partition K-heaps), cursor rides a
    # 1-row broadcast — NO global sort (rangepartitioning) anywhere,
    # the property that makes deep pages O(PAGE_SIZE)
    "orders_page_keyset": (
        ["TakeOrderedAndProject", "BroadcastNestedLoopJoin"],
        ["rangepartitioning"],
    ),
}


@pytest.mark.parametrize("name", sorted(CONTRACTS))
def test_plan_contract(spark, name, plan_cache):
    plan = _cached_plan(plan_cache, spark, name)
    must, must_not = CONTRACTS[name]
    for frag in must:
        assert frag in plan, f"{name}: expected {frag!r} in plan:\n{plan[:2000]}"
    for frag in must_not:
        assert frag not in plan, f"{name}: forbidden {frag!r} in plan:\n{plan[:2000]}"


def test_pack_chunks_window_is_range_partitioned(spark):
    """The doc-level prefix-sum window must partition by (lang, rb) —
    |langs| x PACK_RANGES parallel tasks — never by lang alone (one
    sorted partition per language, the round-2 shape)."""
    import re

    plan = _plan(spark, "pack_chunks_budget")
    assert re.search(r"windowspecdefinition\(lang#\d+, rb#\d+L?, doc_id#", plan), (
        f"doc-level window not partitioned by (lang, rb):\n{plan[:2000]}"
    )
    assert not re.search(r"windowspecdefinition\(lang#\d+, doc_id#", plan), (
        f"found a lang-only doc-ordered window (single partition per lang):\n{plan[:2000]}"
    )


def test_ccnet_rank_window_is_range_partitioned(spark):
    """corpus_ccnet_buckets' doc-level rank window must partition by
    (lang, rb_lo, rb_hi, rb_d) — parallel across the corpus-quantile
    nll ranges (round-11 verdict: the grid is quantile-derived so a
    value-concentrated corpus cannot re-create one hot window) —
    never by lang alone: real corpora are English-dominated, so a
    lang-only window sorts the dominant language's whole doc frame in
    one task (the shape the round-9 verdict flagged)."""
    import re

    plan = _plan(spark, "corpus_ccnet_buckets")
    assert re.search(
        r"windowspecdefinition\(lang#\d+, rb_lo#\d+L?, rb_hi#\d+L?, "
        r"rb_d#\d+L?, nll_micro#",
        plan,
    ), f"doc-level rank window not partitioned by (lang, rb_*):\n{plan[:2000]}"
    assert not re.search(
        r"windowspecdefinition\(lang#\d+, nll_micro#", plan
    ), f"found a lang-only nll-ordered window (one task per lang):\n{plan[:2000]}"


def test_q21_single_lineitem_scan(spark):
    """q21's rewrite collapses the EXISTS / NOT-EXISTS pair into one
    per-orderkey aggregate — lineitem must be scanned exactly once (the
    naive decorrelation read it three times)."""
    plan = _plan(spark, "q21_sole_late_supplier")
    assert plan.count("lineitem.parquet") == 1, (
        f"lineitem scanned {plan.count('lineitem.parquet')}x:\n{plan[:2000]}"
    )


def test_log_pipeline_plans_no_regex_trim(spark):
    """Go's TrimSpace is a set trim (`btrim`), not a Java-regex
    `regexp_replace` over every raw line and canonical value."""
    df = lognorm.run_pipeline(fixture_df(spark), PipelineConfig())
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "regexp_replace" not in plan, plan[:2000]
