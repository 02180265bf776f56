"""Scale-pattern operators: salted join equivalence, bucketed join
shuffle-freedom, observe()-based zero-pass report counters."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from k8s_log_etl_spark.config import PipelineConfig
from k8s_log_etl_spark.fixtures import fixture_df
from k8s_log_etl_spark.functions.skew import salted_join
from k8s_log_etl_spark.operators import bucketing, lognorm, report as R
from k8s_log_etl_spark.oracles import log_oracle as O
from k8s_log_etl_spark.queries.log_queries import FIXTURE_RAW
from k8s_log_etl_spark.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
    ).collect()[0]
    salted = salted_join(orders, customer, "o_custkey", salt=4).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
    ).collect()[0]
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])
    assert plain["n"] > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = bucketing.bucketed_join(
            spark, sf_dir, "orders", "customer", "o_custkey", "c_custkey", buckets=4
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        n = joined.count()
        plain = (
            load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_observation_counters_match_compute_report(spark):
    """The observed report (counters + folded level/service tallies)
    equals the DuckDB reference over the same fixture."""
    df = lognorm.run_pipeline(fixture_df(spark), PipelineConfig())
    observed, obs = R.attach_observation(df)
    # the "sink action": a full consume
    observed.write.format("noop").mode("overwrite").save()
    rep = R.report_from_observation(obs, df)

    con = duckdb.connect()
    cur = con.execute(O.report_summary_sql(FIXTURE_RAW))
    summary = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    by_level = dict(con.execute(O.agg_by_level_sql(FIXTURE_RAW)).fetchall())
    by_service = dict(con.execute(O.agg_by_service_sql(FIXTURE_RAW)).fetchall())
    con.close()

    for key in ("total_lines", "json_parsed", "json_failed", "normalized_ok",
                "normalized_failed", "written_ok"):
        assert getattr(rep, key) == summary[key], key
    assert rep.filtered.get("level", 0) == summary["filtered_by_level"]
    assert rep.filtered.get("service", 0) == summary["filtered_by_service"]
    assert rep.by_level == by_level
    assert rep.by_service == by_service
    assert rep.total_lines > 0 and len(rep.by_level) > 1


def test_pack_chunks_distributed_equals_single_window(spark, sf_dir):
    """The range-partitioned packing (local prefix sums + per-range
    offset fix-up) must produce row-for-row the same chunks as the
    reference single-window-per-lang form."""
    from k8s_log_etl_spark.queries import llmprep

    dist = {tuple(r) for r in llmprep.pack_chunks_budget(spark, sf_dir).collect()}
    single = {
        tuple(r) for r in llmprep.pack_chunks_single_window(spark, sf_dir).collect()
    }
    assert dist == single


def test_cc_star_equals_min_label_propagation(spark, sf_dir):
    """The large-star/small-star components (O(log n) rounds) must
    assign every node exactly the same component minimum as the
    reference min-label-propagation fixpoint."""
    from k8s_log_etl_spark.queries import dedup

    pairs = dedup.dedup_simhash_banded(spark, sf_dir).select("doc_a", "doc_b")
    pairs = pairs.localCheckpoint(eager=True)
    star = {(r["node"], r["lbl"]) for r in dedup.cc_star(pairs).collect()}
    prop = {
        (r["node"], r["lbl"])
        for r in dedup.cc_min_label_propagation(pairs).collect()
    }
    assert star == prop and len(star) > 0


def test_cc_star_keeps_self_pair_only_nodes(spark):
    """A node that appears ONLY in self-pairs (doc_a == doc_b) must
    still receive a label (itself): the node set derives from the pair
    frame BEFORE the self-loop filter, so cc_star does not depend on
    pair generators guaranteeing doc_a < doc_b."""
    from k8s_log_etl_spark.queries import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (3, 3), (2, 1)], ["doc_a", "doc_b"]
    )
    got = {(r["node"], r["lbl"]) for r in dedup.cc_star(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 3)}


def test_posting_pairs_equals_self_join(spark, sf_dir):
    """The grouped-postings candidate generation (window cap +
    collect_list + map-side pair expansion) must produce exactly the
    (da, db, c) multiset and per-doc sizes of the reference
    inverted-index self-join it replaced."""
    from k8s_log_etl_spark.queries import dedup

    sh = dedup._shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes_new, pairs_new = dedup.posting_pairs(sh)

    capped = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= dedup.POSTING_CAP)
    )
    shc = sh.join(capped.select("s"), "s")
    sizes_ref = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = shc.alias("a"), shc.alias("b")
    pairs_ref = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert {tuple(r) for r in sizes_new.collect()} == {
        tuple(r) for r in sizes_ref.collect()
    }
    got = {tuple(r) for r in pairs_new.collect()}
    want = {tuple(r) for r in pairs_ref.collect()}
    assert got == want and len(got) > 0


def test_aqe_splits_skewed_join_partition(spark):
    """The engine's stated 100 TB answer to join skew is two-layer:
    manual salting where we control the query (join_skew_salted) and
    AQE skew-join splitting everywhere else (session.py turns it on).
    This pins the SECOND layer actually firing: a sort-merge join with
    one pathologically hot key, run with the skew thresholds scaled
    down to fixture size, must show OptimizeSkewedJoin's skew=true
    marker in the final adaptive plan AND produce exactly the
    hash-join-free correct row count."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        n_hot, n_keys, right_mult = 60_000, 50, 3
        left = spark.range(n_hot + n_keys).select(
            F.when(F.col("id") < n_hot, F.lit(0))
            .otherwise(F.col("id") - n_hot)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("payload"),
        )
        right = spark.range(n_keys * right_mult).select(
            (F.col("id") % n_keys).alias("k"),
            F.col("id").alias("rid"),
        )
        joined = left.join(right, "k")
        # execute THIS dataframe's own query execution so the adaptive
        # plan finalizes in place (count() would plan a separate agg);
        # k=0 matches n_hot hot rows + one row from the 0..n_keys-1 tail
        n_rows = len(joined.collect())
        assert n_rows == (n_hot + 1) * right_mult + (n_keys - 1) * right_mult
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not split the hot partition:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_bfs_hand_computable_graph(spark, monkeypatch):
    """Hand-checkable BFS semantics on a tiny path-plus-island graph:
    min hop counts, the hop cap, and unreachable nodes absent."""
    from k8s_log_etl_spark.queries import graph as G

    # path 1-2-3-4-5-6, island 7-8; sources = 2 smallest = {1, 2}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (7, 8)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long").localCheckpoint()
    monkeypatch.setattr(G, "_copurchase_edges", lambda spark, sf_dir: e)
    monkeypatch.setattr(G, "BFS_SOURCES", 2)
    got = {
        (r["source"], r["part"]): r["hops"]
        for r in G.graph_bfs_hops(spark, "unused").collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3,          # capped at 3 hops
        (2, 1): 1, (2, 2): 0, (2, 3): 1, (2, 4): 2, (2, 5): 3,
    }  # island nodes 7/8 unreachable from both sources; 5/6 beyond 1's cap


def test_pagerank_hand_computable_star(spark, monkeypatch):
    """Integer PageRank on a 3-leaf star (center 1, leaves 2-4): the
    leaves are symmetric, so the exact Q-unit recurrence is two
    scalars computable by hand — center absorbs all three leaf ranks
    whole, each leaf gets a third of the center's — and the center
    must outrank the leaves."""
    from k8s_log_etl_spark.queries import graph as G

    edges = [(1, 2), (1, 3), (1, 4)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long").localCheckpoint()
    monkeypatch.setattr(G, "_copurchase_edges", lambda spark, sf_dir: e)
    rows = {r["part"]: r["rank_q"] for r in
            G.graph_pagerank_copurchase(spark, "unused").collect()}
    # replicate the integer recurrence exactly: center deg 3, leaf deg 1
    base = G.PR_Q // 4
    tele = (15 * base) // G.PR_DAMP_DEN
    rc = rl = base
    for _ in range(G.PR_ITERS):
        rc, rl = (
            tele + (85 * (3 * (rl // 1))) // 100,   # center: 3 whole leaf ranks
            tele + (85 * (rc // 3)) // 100,         # leaf: a third of the center
        )
    assert rows == {1: rc, 2: rl, 3: rl, 4: rl}
    assert rows[1] > rows[2]  # hub outranks leaves


def test_pagerank_chunked_bit_identical_on_supernode_graph(spark, monkeypatch):
    """The chunked-adjacency variant must produce BIT-identical Q-unit
    ranks to the one-row-per-node form on a manufactured power-law
    graph: one supernode wired to every other node (degree 400 >> the
    chunk cap) over a sparse ring. Also pins that chunking actually
    happened (the supernode holds multiple adjacency rows) — so a cap
    change can never make this test vacuously pass."""
    from k8s_log_etl_spark.queries import graph as G

    n = 400
    star = [(0, i) for i in range(1, n + 1)]
    ring = [(i, i % n + 1) for i in range(1, n + 1)]
    sym = star + ring + [(b, a) for a, b in star + ring]
    e = spark.createDataFrame(sorted(set(sym)), "src long, dst long").localCheckpoint()

    cap = 64
    chunked = {
        r["part"]: r["rank_q"] for r in G.pagerank_chunked(e, chunk_cap=cap).collect()
    }
    monkeypatch.setattr(G, "_copurchase_edges", lambda spark, sf_dir: e)
    unchunked = {
        r["part"]: r["rank_q"]
        for r in G.graph_pagerank_copurchase(spark, "unused").collect()
    }
    assert chunked == unchunked
    assert unchunked[0] > max(v for k, v in unchunked.items() if k != 0)

    # the supernode really was split: ceil(400/64) = 7 adjacency rows
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    sup_deg = deg.filter(F.col("src") == 0).collect()[0]["d"]
    assert sup_deg == n
    import math
    assert math.ceil(sup_deg / cap) > 1
