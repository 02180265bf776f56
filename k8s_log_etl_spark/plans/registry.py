"""Query registry powering __spark_entry__.py.

Each operator from SURVEY.md §2 registers a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string computing the same result on the same inputs. The
driver hash-compares the two at sf0.01.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str] = None
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py's headline set
    #: declared empty-input behavior (round-10 verdict #6): True means
    #: the query REFUSES schema-correct zero-row corpora with an
    #: explicit ValueError (training/selection on an empty corpus is
    #: undefined by contract). The empty-tables sweep
    #: (tests/test_short_docs.py) derives its expected refusal set
    #: from this flag, so a new query cannot land without declaring
    #: its empty-input behavior — an undeclared refusal AND a declared
    #: refusal that completes both fail the sweep.
    refuses_empty: bool = False


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    refuses_empty: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = QuerySpec(
            name, fn, oracle, tuple(tags), bench, refuses_empty
        )
        return fn

    return deco


# The round driver hard-checks only the FIRST 50 registered queries.
# Round 14 rotation (round-13 verdict #6: ALL 50 slots point at ORACLED
# queries — the two bounds-only sketches leave the driver window and
# stay pinned by tests/test_approx.py; their r13 rows-only driver
# fingerprints stand): (a) the 16 leftover r8 rows that the r13
# rotation plan promised would lead this round's tranche, (b) this
# round's STRUCTURALLY modified implementations (k-space posting keys,
# keyed scan spreads, cc_star exchange cuts, one-parse signature/argmax
# SQL rewrites, graph edge-build keying — each family's members get a
# fresh driver fingerprint through the changed code), and (c) stale-r9
# refreshes doubling as family representatives for every capability
# (tests/test_registry_order.py pins the mapping; approx-sketch's rep
# is the ORACLED countmin sketch, not the bounds-only pair).
_CHECKED_FIRST_R14 = [
    # --- (a) the 16 leftover r8 rows (stalest greens on the books) ---
    "corpus_ngram_saturation", "dedup_containment", "dedup_excise_spans",
    "dedup_minhash_incremental", "dedup_ngram_jaccard",
    "dedup_substring_spans", "holdout_novelty_scan",
    "pack_chunks_bpe_budget", "quality_gate_serve", "text_bigram_lm_score",
    "text_boilerplate_phrases", "text_collocations_pmi",
    "text_fingerprint_clusters", "text_keyword_rake", "text_readability_fk",
    "text_repetition_scores",
    # --- (b) round-14 structurally modified implementations ---
    "corpus_clean_pipeline", "dedup_edit_distance",
    "graph_triangle_estimate", "graph_pagerank_copurchase",
    "graph_bfs_hops", "graph_triangle_count", "parts_copurchased",
    "split_group_aware", "dedup_cluster_components", "dedup_keeper_remap",
    "dedup_lines_corpus", "wordpiece_encode_corpus",
    "wordpiece_train_merges", "bpe_encode_corpus",
    "quality_classifier_train", "dedup_simhash", "dedup_simhash_banded",
    "dedup_minhash_lsh", "dedup_minhash_index_serve",
    "minhash_estimate_quality",
    # --- (c) fixed-dim-unroll consumers + stale-r9 refreshes, doubling
    # as family representatives ---
    "knn_brute_cosine", "knn_ivfpq_adc", "ann_recall_eval",
    "rag_retrieval_pipeline", "crossmodal_retrieval",
    "retrieval_hybrid_rrf", "dedup_embedding_lsh", "udaf_embedding_norm",
    "events_rolling_1h", "transform_chain", "sample_domain_balanced",
    "agg_countmin_events", "join_scd2_dimension", "events_gap_fill_locf",
]

# agg_approx_events / agg_heavyhitters_events are sketch-only (no
# oracle by construction — Misra-Gries merge is partition-order-
# dependent; engine-specific t-digest/HLL++ state) and held ROWS-ONLY
# checked slots in round 13 — the driver pinned rows/schema once;
# round 14 returns their slots to oracled queries (r13 verdict #6) and
# tests/test_approx.py keeps pinning the error bounds every run.
# agg_countmin_events WAS in this club until round 7, when its
# registers were hand-rolled over md5 buckets and ORACLED — it
# rotates through checked slots like any other query.
_CHECKED_FIRST = _CHECKED_FIRST_R14


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (imports trigger registration), then
    order the result: the 50 driver-checked slots first (explicit
    priority list), everything else after in registration order."""
    from k8s_log_etl_spark.queries import (  # noqa: F401
        dedup,
        graph,
        llmprep,
        log_queries,
        multimodal,
        relational,
        similarity,
        streaming_batch,
        text,
        udx,
    )

    ordered: dict[str, QuerySpec] = {}
    for name in _CHECKED_FIRST:
        ordered[name] = _QUERIES[name]
    for name, spec in _QUERIES.items():
        ordered.setdefault(name, spec)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle}


def bench_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items() if spec.bench}
