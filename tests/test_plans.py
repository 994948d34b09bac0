"""Physical-plan assertions (SURVEY.md §4.2): the scale properties the
engine is designed around must be visible in .explain — filter/column
pushdown into the parquet scan, broadcast joins on dimensions, partial
(map-side) aggregation, and no Python evaluation in builtin-only paths.
A plan regression here is a 100×-at-scale bug even when results stay
correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from copy_databasetables_spark.io import load_table
from copy_databasetables_spark.operators import all_queries
from tests.conftest import SF_SMOKE


def plan(df) -> str:
    # Execute first: under AQE the physical plan (join strategies,
    # codegen spans) is only final after at least one run.
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def full_plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = load_table(spark, SF_SMOKE, "orders").where(F.col("o_totalprice") > 300000.0)
    p = full_plan(df)
    assert "PushedFilters" in p and "o_totalprice" in p.split("PushedFilters")[1][:200]


def test_column_pruning_in_read_schema(spark):
    df = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    p = full_plan(df)
    read_schema = p.split("ReadSchema")[1][:200]
    assert "c_custkey" in read_schema and "c_name" in read_schema
    assert "c_acctbal" not in read_schema  # unused column never read


def test_dimension_join_broadcasts(spark):
    df = all_queries()["q_join_broadcast"](spark, SF_SMOKE)
    assert "BroadcastHashJoin" in plan(df)


def test_star_join_single_fact_shuffle(spark):
    """lineitem⋈orders shuffles; customer/nation/region must broadcast —
    exactly one pair of shuffle-join sides in the whole star."""
    p = plan(all_queries()["q_join_multi_star"](spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_survivor_quality_join_broadcasts_cluster_side(spark):
    """q_dedup_survivor's corpus join must broadcast the (tiny,
    vertex-sized) cluster table — a shuffle here would re-shuffle the
    whole corpus at scale just to look up n_chars. The hint is gated on
    a size bound (2 × the observed pair count against
    dedup._SURVIVOR_BROADCAST_MAX_ROWS); at smoke scale the cluster
    table is far below the gate, so the hint must fire."""
    p = plan(all_queries()["q_dedup_survivor"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p


def test_semi_join_stays_semi(spark):
    p = plan(all_queries()["q_join_semi"](spark, SF_SMOKE))
    assert "LeftSemi" in p


def test_groupby_has_partial_aggregate(spark):
    """Two-phase hash aggregation: a partial_ aggregate must appear below
    the exchange (map-side combine — the reason Q1 ships group rows, not
    raw rows, through the shuffle)."""
    p = plan(all_queries()["q_agg_group"](spark, SF_SMOKE))
    assert "partial_" in p and "Exchange" in p


def test_topk_uses_take_ordered(spark):
    p = plan(all_queries()["q_limit_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p


def test_higher_order_ops_have_no_python(spark):
    """The no-UDF guarantee for vector math and text dedup: nothing in
    these plans may cross to a Python worker."""
    for name in ("q_higher_order", "q_sim_topk", "q_dedup_minhash", "q_text_tfidf"):
        p = plan(all_queries()[name](spark, SF_SMOKE))
        assert "PythonUDF" not in p and "ArrowEvalPython" not in p, name


def test_whole_stage_codegen_covers_flagship(spark):
    # codegen stages print as "*(n)" markers in the executed-plan tree
    p = plan(all_queries()["q_agg_group"](spark, SF_SMOKE))
    assert "*(1)" in p and "*(2)" in p


def test_events_window_partition_count_honors_session_conf(spark):
    df = all_queries()["q_stream_tumbling"](spark, SF_SMOKE)
    assert "Exchange hashpartitioning" in plan(df)


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketing is the SCALE.md co-located-join technique: two tables
    bucketed by the same key into the same bucket count join WITHOUT any
    exchange — at 100 TB this removes the dominant cost of repeated
    fact-to-fact joins. (saveAsTable is required; plain parquet has no
    bucket metadata.)"""
    from copy_databasetables_spark.io import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .option("path", "/tmp/spark_graft_bucket/orders").saveAsTable("b_orders"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .option("path", "/tmp/spark_graft_bucket/lineitem").saveAsTable("b_lineitem"))
    # disable broadcast so the join would otherwise have to shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderstatus").count()
        p = plan(joined)
        assert "SortMergeJoin" in p
        # the join itself must not exchange either side (only the final
        # groupBy shuffles) — bucket co-location did the partitioning
        assert "Exchange hashpartitioning(l_orderkey" not in p
        assert "Exchange hashpartitioning(o_orderkey" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_minhash_verify_join_strategy_is_size_driven(spark):
    """The LSH verify join must NOT be hint-forced to broadcast: the
    token table IS the corpus at 100 TB, so the only acceptable plan is
    one where the strategy follows size/config. With broadcast disabled
    the whole pipeline must compile to shuffle joins — a lingering
    F.broadcast hint would override the conf and fail this test."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(all_queries()["q_dedup_minhash"](spark, SF_SMOKE))
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_multi_star_customer_join_is_size_driven(spark):
    """customer grows with SF so it must not carry a broadcast hint;
    nation/region (fixed 25/5 rows) keep theirs. With broadcast disabled
    exactly the two hinted dimensions still broadcast and the customer
    join demotes to a shuffle join."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(all_queries()["q_join_multi_star"](spark, SF_SMOKE))
        final = p.split("== Initial Plan ==")[0]  # AQE prints both plans
        assert final.count("BroadcastHashJoin") == 2  # nation + region only
        assert "SortMergeJoin" in final or "ShuffledHashJoin" in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_simhash_candidates_use_bucket_equi_join(spark):
    """SimHash candidate generation must be the pigeonhole bucket join
    (equi keys include the 4-bit block value), never a per-language
    all-pairs theta join."""
    df = all_queries()["q_dedup_simhash"](spark, SF_SMOKE)
    p = plan(df)
    assert "bval" in p  # block value participates in the join keys
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ngram_join_carries_size_band(spark):
    """The τ=0.60 size-ratio band must appear in the ngram join
    condition (it prunes the per-language O(n²) soundly)."""
    import re

    df = all_queries()["q_dedup_ngram"](spark, SF_SMOKE)
    p = full_plan(df)
    assert re.search(r"\(sz_a#\d+ \* 100\) >= \(sz_b#\d+ \* 60\)", p)
    assert re.search(r"\(sz_b#\d+ \* 100\) >= \(sz_a#\d+ \* 60\)", p)


def test_topk_per_group_pushes_window_group_limit(spark):
    """rank-filter pushdown: row_number()<=k compiles to WindowGroupLimit
    (a per-partition top-k heap BELOW the shuffle), so mappers emit at
    most k rows per group instead of whole groups — the property that
    makes per-group top-k viable at 100 TB."""
    p = plan(all_queries()["q_win_topk_per_group"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in p


def test_scalar_subquery_decorrelates_to_join(spark):
    """Correlated scalar subqueries must not re-execute per row: Catalyst
    decorrelates them into aggregate + join (no nested-loop 'Subquery'
    execution nodes in the physical plan)."""
    p = plan(all_queries()["q_subquery_scalar"](spark, SF_SMOKE))
    assert "Join" in p  # rewritten into join form
    assert "CartesianProduct" not in p


def test_aqe_splits_skewed_join(spark):
    """SCALE.md's skew answer, proven: a join where one key holds 90% of
    the rows gets its hot partition split by AQE (SortMergeJoin(skew=true)
    over a 'coalesced and skewed' shuffle read). Thresholds are lowered
    to make local data register as skewed; forceOptimizeSkewedJoin lets
    the rule fire even though the downstream agg would prefer the join's
    partitioning."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        left = spark.range(0, 1_000_000).select(
            F.when(F.col("id") < 900_000, 0)
            .otherwise((F.col("id") % 1000) + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        agg = left.join(right, "k").groupBy().count()
        assert agg.collect()[0]["count"] == 1_000_000
        p = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p
        assert "skewed" in p  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_reaches_scan(spark):
    """DPP is the partition-layout payoff at 100 TB: joining a
    partitioned fact on its partition column against a FILTERED dim must
    inject a dynamicpruning subquery into the fact scan's
    PartitionFilters — only matching partition directories are read."""
    import os

    path = "/tmp/spark_graft_dpp/lineitem"
    if not os.path.exists(path):
        load_table(spark, SF_SMOKE, "lineitem").write.mode("overwrite").partitionBy(
            "l_returnflag"
        ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("R", 1), ("A", 0), ("N", 0)], "flag string, w int"
    ).where(F.col("w") > 0)
    j = fact.join(dim, fact.l_returnflag == dim.flag).groupBy("flag").count()
    assert "dynamicpruning" in plan(j).lower()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning (Spark 3.3+): with broadcast
    off, a selective build side injects a bloom filter into the probe
    scan so non-matching fact rows drop BEFORE the shuffle — at 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the ~matching slice."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        o = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_totalprice") > 500000.0
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().count()
        assert "bloom" in plan(j).lower()
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_decontaminate_gram_join_is_broadcast_even_without_aqe_help(spark):
    """The bench-gram join is HINTED broadcast — correct at any scale
    because the benchmark set is a fixed _BENCH_DOCS docs (an external
    eval suite, constant in corpus size). Pin that the hint holds even
    when size-based broadcasting is disabled: the corpus gram stream
    must be filtered map-side, never shuffled for this join."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan(all_queries()["q_decontaminate"](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" in p


def test_dedup_embed_lsh_is_cartesian_free(spark):
    """The embedding-LSH scale path must generate candidates through a
    pure (band, bucket) equi-join — NO CartesianProduct and NO
    BroadcastNestedLoopJoin anywhere in the plan. This is the
    machine-checked claim behind q_dedup_embed's docstring sending
    100 TB users here (VERDICT r5 item 3)."""
    p = plan(all_queries()["q_dedup_embed_lsh"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "bucket" in p  # the band/bucket keys drive the join


def test_recall_audits_plan_shapes(spark):
    """The two recall-audit ops: every banding leg must stay the
    equi-join candidate shape (buckets drive the joins), the exact
    ground-truth leg is a lang-keyed (token side) / broadcast-range
    (embed side, one-row stats aside) join — and NO CartesianProduct
    may appear anywhere: the audits' quadratic cost lives in join
    OUTPUT volume, never in an unkeyed physical cross. The final
    three-count assembly must resolve to broadcast joins of one-row
    aggregates."""
    qs = all_queries()
    p = plan(qs["q_dedup_lsh_recall"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "bucket" in p
    p2 = plan(qs["q_dedup_embed_recall"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p2
    assert "bucket" in p2


def test_ivf_assign_is_map_side(spark):
    """The IVF index-build assignment (r14 rewrite, VERDICT r13 item 2)
    must be a pure map-side argmax: MapInPandas against the collected
    centroid broadcast, NO Window (the old n·K-row per-vector argmin
    window — 2.8B shuffled rows at the 2M-vector stress point) and NO
    shuffle beyond _vecs' own deliberate RoundRobin repartition (which
    exists to create parallelism on the single-file scan, not to move
    pair work)."""
    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivf_assign,
        _vecs,
    )

    v = _vecs(spark, SF_SMOKE)
    p = plan(_ivf_assign(v, _centroids(v)))
    final = p.split("== Initial Plan ==")[0]
    assert "MapInPandas" in final
    assert "Window" not in final
    assert final.count("Exchange") <= 1
    if "Exchange" in final:
        assert "RoundRobinPartitioning" in final  # _vecs' parallelism split


def test_sim_threshold_blocked_is_cartesian_free(spark):
    """The IVF-cell-blocked threshold scan must pair vectors through a
    cid equi-join, never a cartesian. The only allowed nested-loop
    nodes are the centroid-assignment crossJoins against the broadcast
    fixed-K centroid table (constant-size build side — bounded at any
    data scale; the assign subtree appears once per pair-join side, so
    ≤2); the O(n²)-shaped pair join itself must be a cid-keyed equi
    join."""
    p = plan(all_queries()["q_sim_threshold_blocked"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 2
    assert "Join [cid" in final  # the cell id drives the pair join


def test_dedup_substring_has_no_self_join_and_no_python(spark):
    """Duplicated-span detection must stay explode→groupBy→equi-join —
    never a doc×doc self-join (no CartesianProduct/BNLJ) and never a
    Python worker; the dup-hash join side is corpus-dependent so it
    must carry no broadcast hint (strategy stays size/conf-driven)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(all_queries()["q_dedup_substring"](spark, SF_SMOKE))
        final = p.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        assert "BroadcastNestedLoopJoin" not in final
        assert "BroadcastHashJoin" not in final  # no lingering hint
        assert "PythonUDF" not in final and "ArrowEvalPython" not in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_range_binned_join_is_cartesian_free(spark):
    """The keyless point-in-interval join must pair windows with events
    through the hour-bucket equi-join — never a cartesian or
    nested-loop pair join, even with broadcast disabled (at corpus
    scale NEITHER side is broadcastable), and never a Python worker."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(all_queries()["q_join_range_binned"](spark, SF_SMOKE))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "Python" not in final
    assert "hr" in final  # the hour bin drives the join


def test_hybrid_predicate_pushed_to_documents_scan(spark):
    """q_sim_hybrid's metadata predicate must land on the documents
    parquet scan as pushed filters (row-group pruning at 100 TB), and
    the metadata attach must be a vec_id equi-join — the only
    nested-loop node allowed is the bounded broadcast probe×corpus
    scoring join (fixed probe set, same as q_sim_topk)."""
    df = all_queries()["q_sim_hybrid"](spark, SF_SMOKE)
    fp = full_plan(df)
    pushed = fp.split("PushedFilters")
    assert len(pushed) > 1 and any(
        "n_chars" in seg[:300] for seg in pushed[1:]
    ), "documents predicate not pushed to the scan"
    p = plan(df)
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 1


def test_bm25_topn_is_take_ordered(spark):
    """The BM25 top-N must compile to TakeOrdered (partial per-partition
    top-N + driver merge of N·parts rows), never a global Sort of every
    scored document."""
    df = all_queries()["q_text_bm25"](spark, SF_SMOKE)
    p = plan(df)
    assert "TakeOrderedAndProject" in p


def test_kmeans_broadcasts_only_fixed_k_centroids(spark):
    """Both k-means assignment passes must score through a broadcast of
    the FIXED-K centroid table (O(K·dim) bytes at any corpus size) —
    the only nested-loop nodes allowed are those two bounded
    broadcasts; no CartesianProduct, and the update shuffle is keyed
    (cid, pos) partial aggregation."""
    p = plan(all_queries()["q_emb_kmeans"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 2
    assert "partial_" in final.lower() or "HashAggregate" in final


def test_global_ids_avoid_corpus_single_partition(spark):
    """q_assign_global_ids exists BECAUSE row_number() over a global
    ORDER BY funnels the corpus through one task. Its plan must show:
    the corpus side range-partitioned (parallel), the range exchange
    REUSED by the counts branch (structural boundary consistency), and
    exactly one SinglePartition exchange — the |partitions|-row offsets
    cumsum, never the corpus."""
    df = all_queries()["q_assign_global_ids"](spark, SF_SMOKE)
    p = plan(df)
    final = p.split("== Initial Plan ==")[0]
    assert "rangepartitioning" in final.lower()
    assert "ReusedExchange" in final
    assert final.count("Exchange SinglePartition") == 1


def test_capped_embed_lsh_is_cartesian_free(spark):
    """The skew-guarded embedding-LSH variant must keep the plain
    variant's candidate shape — (band, bucket) equi-join only, no
    CartesianProduct / BroadcastNestedLoopJoin — with the cap applied
    as a per-bucket window BEFORE pairing."""
    p = plan(all_queries()["q_dedup_embed_lsh_capped"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "bucket" in p


def test_bm25_multi_uses_window_group_limit(spark):
    """The per-query top-N in batched BM25 must compile to
    WindowGroupLimit (per-partition early pruning before the rank
    window) — |queries| independent group-limits, never a global
    sort of all scored (query, doc) rows."""
    p = plan(all_queries()["q_text_bm25_multi"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in p


def test_pagerank_edges_are_materialized_and_bounded(spark):
    """The PR iteration stack must join against CHECKPOINTED edges
    (Scan ExistingRDD), never re-derive the LSH pipeline per round —
    the bounded-partitioning + lazy-checkpoint shape that fixed the
    measured 100× OOM (SCALE.md)."""
    p = plan(all_queries()["q_graph_pagerank"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in final  # checkpointed edges feed the joins
    assert "CartesianProduct" not in final


def test_scaled_embed_lsh_is_cartesian_free_and_id_lean(spark):
    """The corpus-scaled sign-LSH variant must keep the (band, bucket)
    equi-join candidate shape (no CartesianProduct / BNL), and its
    candidate dedup must run over ID-ONLY pair rows — the r7 fix that
    took the 200k-vector decade from 127 s to 24.9 s was moving the two
    64-dim vectors OUT of the dropDuplicates exchange, so the vectors
    must re-enter the plan via joins AFTER the pair dedup, not ride
    through it."""
    df = all_queries()["q_dedup_embed_lsh_scaled"](spark, SF_SMOKE)
    p = plan(df)
    assert "CartesianProduct" not in p
    # the ONLY nested-loop join allowed is the broadcast of the 1-ROW
    # count aggregate that computes the bucket width in-plan — a Cross
    # build side of exactly one row, never a data×data pairing
    import re

    bnl = [ln for ln in p.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert bnl and all("Cross" in ln for ln in bnl), (
        "every nested-loop join must be the 1-row width-count cross"
    )
    # candidate generation must be an equi join keyed on (band, bucket)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[.*bucket", p)
    # the deduplicate operator's grouping must not carry embedding arrays
    import re

    dedup_lines = [
        ln for ln in p.splitlines() if "Deduplicate" in ln or "HashAggregate" in ln
    ]
    pair_dedups = [ln for ln in dedup_lines if "vec_id_a" in ln and "vec_id_b" in ln]
    assert pair_dedups, "expected an id-pair dedup stage in the plan"
    assert not any(re.search(r"\be_[ab]\b", ln) for ln in pair_dedups), (
        "vector columns must not pass through the pair-dedup exchange"
    )


def test_scaled_embed_lsh_width_follows_corpus_size(spark):
    """The bucket key's width must follow w = clamp(ceil(log2 n)-6, 4, 16):
    4 chars at the 500-vector smoke corpus — and the rule must yield the
    12 bits SCALE.md's arithmetic prescribes at the 200k-vector stress
    decade."""
    import math

    from pyspark.sql import functions as F

    from copy_databasetables_spark.operators.dedup import (
        _RHP_SC_WMAX,
        _RHP_SC_WMIN,
        _rhp_scaled_keyed,
    )

    keyed = _rhp_scaled_keyed(spark, SF_SMOKE)
    widths = [
        r["w"] for r in keyed.select(F.length("bucket").alias("w")).distinct().collect()
    ]
    assert widths == [4]  # 500 vectors -> ceil(log2 500)=9, 9-6=3 -> floor 4

    rule = lambda n: min(max(math.ceil(math.log2(n)) - 6, _RHP_SC_WMIN), _RHP_SC_WMAX)  # noqa: E731
    assert rule(200_000) == 12  # SCALE.md's own sizing arithmetic
    assert rule(2_000_000_000) == 16  # ceiling binds at the extreme


def test_survivor_broadcast_gate_falls_back_above_threshold(spark, monkeypatch):
    """The other half of the size-driven proof: when the cluster table's
    bound exceeds the broadcast gate (threshold forced to 0 here), the
    survivor quality join must compile WITHOUT the broadcast hint —
    with auto-broadcast disabled too, a shuffle join. Together with
    test_survivor_quality_join_broadcasts_cluster_side this pins that
    the join strategy follows SIZE, not a hardcoded hint (VERDICT r6
    item 2)."""
    from copy_databasetables_spark.operators import dedup

    monkeypatch.setattr(dedup, "_SURVIVOR_BROADCAST_MAX_ROWS", 0)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(all_queries()["q_dedup_survivor"](spark, SF_SMOKE))
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_strip_spans_is_explode_join_shaped(spark):
    """q_text_strip_spans (the REMOVAL half of q_dedup_substring) must
    keep the same discipline as the detection half: explode → hash
    groupBy → equi-joins, never a doc×doc self-join and never a Python
    worker; with the broadcast threshold disabled no broadcast hint may
    linger (the dup-hash and covered-position sides are
    corpus-dependent, so strategy must stay size/conf-driven)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(all_queries()["q_text_strip_spans"](spark, SF_SMOKE))
        final = p.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        assert "BroadcastNestedLoopJoin" not in final
        assert "BroadcastHashJoin" not in final
        assert "PythonUDF" not in final and "ArrowEvalPython" not in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_corpus_drift_histogram_legs_are_metadata_sized(spark):
    """q_corpus_drift's plan: no cartesian/NLJ anywhere and no Python;
    the histogram legs partially aggregate before their shuffles
    (wire rows ≈ |sources|×64 buckets, not the corpus)."""
    p = plan(all_queries()["q_corpus_drift"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "PythonUDF" not in final and "ArrowEvalPython" not in final
    assert "HashAggregate" in final


def test_kscaled_persisted_search_reads_index_from_storage(spark):
    """The persisted √n-IVF op (r8) must search against the PARQUET
    READ-BACK of the inverted index — the amortized-build deployment
    split executed, not narrated: the index path appears as a scan, the
    cell-membership join is a cid-keyed hash join, and the only
    nested-loop node is the bounded probe×centroid crossJoin (constant
    K=⌈√n⌉ broadcast build side)."""
    p = plan(all_queries()["q_sim_ivf_kscaled_persisted"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "spark_graft_ivf_index" in final  # index comes from storage
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 1  # probe×centroids only
    assert "BroadcastHashJoin [cid" in final  # cid equi-join drives members
    assert _index_scan_prunes_on_cid(final)  # partitionBy(cid) layout (r14)


def test_rrf_legs_broadcast_probes_and_fusion_is_equi(spark):
    """q_sim_rrf's two retrieval legs must broadcast the PROBE side
    (the query batch — bounded, never the corpus) against the corpus
    scan, and the fusion join of the two (probe, cand, rank) tables
    must be a plain equi-join: no CartesianProduct anywhere, and the
    only nested-loop joins are the two probe broadcasts (the
    `vec_id != probe_id` self-exclusion makes those legs
    BroadcastNestedLoopJoin by construction — acceptable because the
    broadcast side is the bounded probe batch)."""
    df = all_queries()["q_sim_rrf"](spark, SF_SMOKE)
    p = plan(df)
    assert "CartesianProduct" not in p
    # fusion: the full outer join on (probe_id, cand_id) is sort/hash
    # based on the join keys, never nested-loop
    assert "FullOuter" in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    # both legs broadcast something (the probe batches)
    assert p.count("BroadcastExchange") >= 2


def test_minhash_est_reuses_banded_candidate_stage(spark):
    """q_dedup_minhash_est must ride the SAME banded candidate plan as
    q_dedup_minhash (bucket equi-join, size band in the condition) —
    never all-pairs — and join signatures/tokens back by id."""
    df = all_queries()["q_dedup_minhash_est"](spark, SF_SMOKE)
    p = full_plan(df)
    assert "bucket" in p and "sz" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_wav_frames_plan_has_no_exchange_and_framing_is_exact(spark):
    """q_multimodal_wav_frames: the encode→decode+frame pipeline must
    stay shuffle-free (scan → two mapInPandas stages — framing is
    row-local, so the ~n/32 fan-out happens inside the Arrow batch),
    and each doc must emit exactly n_samples // 32 frames with
    zero-crossing counts bounded by the frame width."""
    df = all_queries()["q_multimodal_wav_frames"](spark, SF_SMOKE)
    p = plan(df)
    assert "Exchange" not in p
    assert p.count("MapInPandas") == 2  # encode + decode/frame, nothing else
    rows = df.collect()
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        assert 0 <= r["n_zero_cross"] <= 31
        assert r["rms"] >= 0.0
    for doc_id, n_frames in per_doc.items():
        n = 64 + (doc_id % 37) * 8  # the generative sample count
        assert n_frames == n // 32


def test_tpch_composites_plan_shapes(spark):
    """The four TPC-H composites must show the plan grammar their
    docstrings promise: top-k as TakeOrderedAndProject (never a global
    Sort+Limit materialization), dimension predicates pushed into the
    parquet scans, and Q5/Q10's small dimensions joined as broadcasts."""
    q3 = all_queries()["q_tpch_q3"](spark, SF_SMOKE)
    p3 = plan(q3)
    assert "TakeOrderedAndProject" in p3
    fp3 = full_plan(q3)
    assert "PushedFilters" in fp3 and "IsNotNull" in fp3
    # the segment filter must reach the customer scan, not sit on the join
    assert "EqualTo(c_mktsegment,BUILDING)" in fp3.replace(" ", "").replace(
        "'", ""
    ) or "c_mktsegment" in fp3.split("PushedFilters", 1)[1][:2000]
    p5 = plan(all_queries()["q_tpch_q5"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p5
    p10 = plan(all_queries()["q_tpch_q10"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p10 and "BroadcastHashJoin" in p10
    p18 = plan(all_queries()["q_tpch_q18"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p18
    assert "LeftSemi" in p18


def test_tpch_q17_decorrelated_plan_shape(spark):
    """q_tpch_q17 (the correlated-scalar-subquery composite) must run
    as the decorrelated two-pass plan its docstring promises: the
    p_type predicate pushed into the part scan, the per-part threshold
    via hash aggregate (never a window over the corpus), the threshold
    join as an equi hash join on l_partkey — and no nested-loop or
    cartesian fallback anywhere (the symptom of a correlated subquery
    that did NOT decorrelate)."""
    from copy_databasetables_spark.operators import all_queries

    df = all_queries()["q_tpch_q17"](spark, SF_SMOKE)
    fp = full_plan(df)
    assert "CartesianProduct" not in fp
    assert "BroadcastNestedLoopJoin" not in fp
    assert "HashAggregate" in fp
    # p_type filter reaches the part scan's pushed filters
    pushed = fp.split("PushedFilters", 1)[1][:400] if "PushedFilters" in fp else ""
    assert "p_type" in pushed or "p_type" in fp.replace(" ", "")
    # exact-integer threshold comparison present (not the float 0.2*avg)
    assert "sumq" in fp and "cnt" in fp


def test_tpch_q4_q6_q22_plan_shapes(spark):
    """The r10 subquery composites must show their decorrelated plan
    grammar: Q4's correlated EXISTS as a LEFT SEMI join (residual
    cross-table date comparison riding the equi key, no nested loop);
    Q6 as a single pushed-filter scan + aggregate with a pruned read
    schema; Q22's scalar subquery as a 1-row broadcast (never a
    driver collect) and its NOT EXISTS as a LEFT ANTI join."""
    from copy_databasetables_spark.operators import all_queries

    p4 = full_plan(all_queries()["q_tpch_q4"](spark, SF_SMOKE))
    assert "LeftSemi" in p4
    assert "CartesianProduct" not in p4 and "BroadcastNestedLoopJoin" not in p4

    q6 = all_queries()["q_tpch_q6"](spark, SF_SMOKE)
    p6 = full_plan(q6)
    assert "Join" not in p6  # zero joins: scan -> filter -> agg
    pushed = p6.split("PushedFilters", 1)[1][:500]
    assert "l_shipdate" in pushed or "l_discount" in pushed
    sch = p6.split("ReadSchema", 1)[1][:300]
    for col in ("l_shipdate", "l_discount", "l_extendedprice", "l_quantity"):
        assert col in sch
    assert "l_orderkey" not in sch  # column pruning held

    p22 = full_plan(all_queries()["q_tpch_q22"](spark, SF_SMOKE))
    assert "LeftAnti" in p22
    # scalar side broadcast, not collected: a broadcast exchange exists
    assert "BroadcastExchange" in p22 or "BroadcastQueryStage" in p22


def test_tpch_q8_q14_q19_plan_shapes(spark):
    """The r10 wide composites: Q8 (seven joins around one fact) must
    run cartesian-free with its dimensions broadcast and one aggregate
    pass (conditional + total dsum together — no self-join for the
    ratio); Q14's month predicate must reach the lineitem scan; Q19's
    pushdown ENVELOPE of the cross-table disjunction must reach BOTH
    scans (p_brand/p_size on part, l_quantity on lineitem)."""
    from copy_databasetables_spark.operators import all_queries

    p8 = full_plan(all_queries()["q_tpch_q8"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p8
    assert "BroadcastHashJoin" in p8
    # single aggregate pass: exactly one final HashAggregate pair over
    # the flat join (no union/self-join of two aggregates)
    assert "Union" not in p8

    p14 = full_plan(all_queries()["q_tpch_q14"](spark, SF_SMOKE))
    pushed14 = p14.split("PushedFilters", 1)[1][:400]
    assert "l_shipdate" in pushed14

    p19 = full_plan(all_queries()["q_tpch_q19"](spark, SF_SMOKE))
    compact = p19.replace(" ", "")
    # part-side envelope: brand IN-set and size cap pushed
    assert "p_brand" in compact and "p_size" in compact
    # lineitem-side envelope: quantity band pushed into that scan
    li_scan = [s for s in p19.split("PushedFilters") if "l_quantity" in s[:400]]
    assert li_scan, "l_quantity envelope not pushed to the lineitem scan"


def test_tpch_q7_q13_q15_plan_shapes(spark):
    """Q7: both fact ends pre-filtered through broadcast 2-row nation
    slices, no cartesian; Q13: the priority filter must NOT collapse
    the left join (outer-preserved — a zero-order customer bucket
    exists); Q15: the max is a 1-row broadcast against the reused
    revenue aggregate, not a collected literal."""
    from copy_databasetables_spark.operators import all_queries

    p7 = full_plan(all_queries()["q_tpch_q7"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p7
    assert "BroadcastHashJoin" in p7

    q13 = all_queries()["q_tpch_q13"](spark, SF_SMOKE)
    assert "LeftOuter" in full_plan(q13)
    # outer preservation: every customer lands in exactly one bucket,
    # so Σ custdist == |customer| (a WHERE-placed filter would leak
    # customers whose only orders are urgent and break this identity)
    from copy_databasetables_spark.io import load_table

    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    assert sum(r["custdist"] for r in q13.collect()) == n_cust

    p15 = full_plan(all_queries()["q_tpch_q15"](spark, SF_SMOKE))
    assert "BroadcastExchange" in p15 or "BroadcastQueryStage" in p15


def test_tpch_q21_q2_plan_shapes(spark):
    """The r11 subquery composites. Q21 (EXISTS + NOT EXISTS against
    the same fact): the correlated pair must decorrelate to a LEFT
    SEMI and a LEFT ANTI join — no nested loop or cartesian — with the
    suppkey-inequality (and the anti's lateness comparison) riding the
    l_orderkey equi key as residuals, and the semi probe's read schema
    PRUNED to two columns (Catalyst drops its unused l_shipdate — the
    reason the probes don't share one exchange, and cheaper than if
    they did). Q2 (correlated MIN through a 4-dim join): the scalar
    subquery must run as a hash-aggregate + equi join (never a per-row
    nested loop), with the p_size predicate pushed into the part scan
    and the top-k as TakeOrderedAndProject."""
    from copy_databasetables_spark.operators import all_queries

    p21 = full_plan(all_queries()["q_tpch_q21"](spark, SF_SMOKE))
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "CartesianProduct" not in p21
    assert "BroadcastNestedLoopJoin" not in p21
    assert "TakeOrderedAndProject" in p21
    # the semi probe pruned to (l_orderkey, l_suppkey) — no shipdate
    semi_scans = [
        s[:1500]
        for s in p21.split("ReadSchema: ")[1:]
        if s.startswith("struct<l_orderkey:bigint,l_suppkey:bigint>")
    ]
    assert semi_scans, "semi probe scan was not pruned to 2 columns"

    p2 = full_plan(all_queries()["q_tpch_q2"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "HashAggregate" in p2  # the decorrelated per-part MIN
    assert "TakeOrderedAndProject" in p2
    pushed = p2.split("PushedFilters", 1)[1][:2000] if "PushedFilters" in p2 else ""
    assert "p_size" in pushed or "p_size" in p2.replace(" ", "")


def test_tpch_q9_q11_q16_q20_plan_shapes(spark):
    """The r11 batch-2 composites. Q9: the derived-cost join must be
    cartesian-free with supplier/nation broadcast and ONE aggregate
    producing sum_profit. Q11: the scalar threshold must be a 1-row
    broadcast over the reused per-part aggregate (never a collected
    literal or a fact re-scan). Q16: the NOT IN decorrelates to a LEFT
    ANTI join; the size IN-list pushes into the part scan. Q20: the
    nested IN chain runs as two LEFT SEMI joins with the p_name prefix
    pushed as StringStartsWith."""
    from copy_databasetables_spark.operators import all_queries

    p9 = full_plan(all_queries()["q_tpch_q9"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p9
    assert "BroadcastNestedLoopJoin" not in p9
    assert "BroadcastHashJoin" in p9

    p11 = full_plan(all_queries()["q_tpch_q11"](spark, SF_SMOKE))
    assert "BroadcastExchange" in p11 or "BroadcastQueryStage" in p11
    assert "CartesianProduct" not in p11  # the 1-row threshold is a
    # broadcast nested-loop ONLY in the degenerate crossJoin sense —
    # pin that no real cartesian of data-sized sides exists
    p16 = full_plan(all_queries()["q_tpch_q16"](spark, SF_SMOKE))
    assert "LeftAnti" in p16
    compact16 = p16.replace(" ", "")
    assert "In(p_size" in compact16 or "p_size" in compact16

    p20 = full_plan(all_queries()["q_tpch_q20"](spark, SF_SMOKE))
    assert p20.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p20
    assert "StringStartsWith" in p20  # p_name prefix reached the scan


def test_binary_file_source_prunes_content(spark):
    """The binaryFile landing scan must prune the ``content`` column
    when only metadata is projected — a path/length audit over a blob
    lake must read file STATUS, not the bytes (at 100 TB of media
    that's the difference between a listing job and a full read)."""
    from copy_databasetables_spark.operators.scans import (
        _stage_media_files,
    )

    stage = _stage_media_files(spark, SF_SMOKE)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(stage)
        .select("path", "length")
    )
    p = full_plan(df)
    sch = p.split("ReadSchema", 1)[1][:300]
    assert "path" in sch and "length" in sch
    assert "content" not in sch


def test_emb_whitening_no_vecid_shuffle_no_repartition(spark):
    """q_emb_whitening's r12 plan contract (the r11 judge's one
    scale-killer finding, fixed): the corpus must NOT be re-keyed. The
    only exchanges allowed are the ~d-row pos-mean aggregate (partial
    agg shrinks it to d rows/task) and its single-row collect_list; the
    per-vector statistics compute inside each row via zip_with/
    aggregate, so there is no hashpartitioning on vec_id and no
    round-robin repartition anywhere in the plan. The d means return
    as ONE broadcast row."""
    p = plan(all_queries()["q_emb_whitening"](spark, SF_SMOKE))
    assert "hashpartitioning(vec_id" not in p
    assert "RoundRobinPartitioning" not in p  # the r11 .repartition()
    assert "BroadcastExchange" in p  # the d-element mean array row
    assert "zip_with" in p  # per-vector centering stays in-row


def test_sim_topk_whitened_centering_is_in_row_probes_broadcast(spark):
    """q_sim_topk_whitened composes whitening with retrieval without
    inheriting either's worst-case shape: centering + the whitened norm
    compute in-row (no vec_id hashpartitioning beyond what q_sim_topk
    itself needs — none), the mean is one broadcast row, and the probe
    side broadcasts exactly as q_sim_topk (BroadcastNestedLoopJoin on
    the != predicate), so the corpus is never cartesian-expanded."""
    p = plan(all_queries()["q_sim_topk_whitened"](spark, SF_SMOKE))
    assert "hashpartitioning(vec_id" not in p
    assert "CartesianProduct" not in p
    assert "zip_with" in p
    # two broadcasts: the mean row and the probe side
    assert p.count("BroadcastExchange") >= 2


def test_sample_reservoir_is_take_ordered_not_global_sort(spark):
    """q_sample_reservoir's scale contract: orderBy+limit must compile
    to TakeOrderedAndProject (per-partition top-N heaps, N·partitions
    rows crossing) — a global Sort+Exchange here would shuffle the
    whole corpus to cut 100 rows."""
    p = plan(all_queries()["q_sample_reservoir"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()  # the global-sort shape


def test_winsorize_one_fact_window_and_broadcast_clip(spark):
    """q_agg_winsorize: the fact is shuffled ONCE (the event_type rank
    window); the 2-value-per-group threshold frame comes back as a
    broadcast, so the clip itself is map-side — a second fact exchange
    (sort-merge join on event_type) would double the op's wire cost."""
    p = plan(all_queries()["q_agg_winsorize"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_ivf_pq_broadcasts_both_index_halves(spark):
    """q_sim_ivf_pq composes IVF and PQ without inheriting a cartesian
    anywhere: the centroid set and the PQ codebook are bounded
    broadcasts (plus the probe side), and the only corpus-scale join
    is the equi-join on cell id."""
    p = plan(all_queries()["q_sim_ivf_pq"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 2  # centroids + codebook/probes


def test_ivf_pq_persisted_search_reads_all_three_artifacts(spark):
    """q_sim_ivf_pq_persisted (r13) must search against the PARQUET
    READ-BACK of the IVFPQ index — assignment, codebook, AND codes all
    come from storage (three scans under the per-call index path), the
    decode joins the BROADCAST codebook (constant 256 rows — never a
    corpus-sized broadcast), the cell-membership join is a cid-keyed
    hash join, and no cartesian appears anywhere."""
    df = all_queries()["q_sim_ivf_pq_persisted"](spark, SF_SMOKE)
    p = plan(df)
    final = p.split("== Initial Plan ==")[0]
    # count the artifacts in the FULL query execution string: the
    # executed-plan tree can elide a reused query stage's subtree
    # (AQE prints ReusedQueryStage without its scan path), which made
    # this count order-dependent across the suite
    assert full_plan(df).count("spark_graft_ivf_index") >= 3
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin [cid" in final  # cid equi-join drives members
    # r14: assign/ is written partitionBy(cid), so the read-back scan
    # must show partition pruning on cid — dynamic pruning seeded by the
    # probe-cell broadcast join (at scale: each probe batch reads only
    # its cells' files, never the whole inverted index)
    assert _index_scan_prunes_on_cid(final)


def _index_scan_prunes_on_cid(final_plan: str) -> bool:
    """True iff some persisted-index scan line carries a non-empty
    PartitionFilters clause over cid (static inferred filter and/or
    dynamicpruningexpression)."""
    for line in final_plan.splitlines():
        if "spark_graft_ivf_index" not in line or "PartitionFilters" not in line:
            continue
        clause = line.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        if "cid" in clause:
            return True
    return False


def test_remove_top_pc_transform_is_in_row(spark):
    """q_emb_remove_top_pc's per-vector leg mirrors the whitening scale
    contract: the projection/residual/norms compute per vector with NO
    vec_id exchange and no repartition round-trip. Since r16 the leg is
    ONE Arrow-batched MapInPandas (guide §4.2 — the quantized folds run
    vectorized; v₁ ships in the closure like the _fast twin's), so the
    plan must show exactly one MapInPandas over the narrow
    (vec_id, embedding) scan and no Exchange at all in the final plan
    (the one-pass Gram build's (i, j) exchange happens in the separate
    driver-collected job, never in this plan)."""
    p = plan(all_queries()["q_emb_remove_top_pc"](spark, SF_SMOKE))
    assert "hashpartitioning(vec_id" not in p
    assert "RoundRobinPartitioning" not in p
    assert p.count("MapInPandas") >= 1  # the single projection leg
    assert "Exchange" not in p.split("== Initial Plan ==")[0]


def test_pca2_projection_is_in_row_both_eigvecs_broadcast(spark):
    """q_emb_pca2's per-vector leg: the two projections compute per
    vector with NO vec_id exchange — since r16 as ONE Arrow-batched
    MapInPandas (both eigvecs in the closure), exactly like
    q_emb_remove_top_pc."""
    p = plan(all_queries()["q_emb_pca2"](spark, SF_SMOKE))
    assert "hashpartitioning(vec_id" not in p
    assert "RoundRobinPartitioning" not in p
    assert p.count("MapInPandas") >= 1  # the single projection leg
    assert "Exchange" not in p.split("== Initial Plan ==")[0]


def test_bm25_persisted_query_leg_is_pruned_index_read(spark):
    """q_text_bm25_persisted's query leg must pay |Q|-bounded work
    against STORAGE: the postings scan carries the pushed-down
    ``In(term, ...)`` filter (row-group pruning — the local stand-in
    for a term-bucketed layout), there is NO Generate node (the query
    never re-tokenizes the corpus), the df/stats sides ride
    broadcasts, and the top-N is a TakeOrdered, not a global sort."""
    p = plan(all_queries()["q_text_bm25_persisted"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "spark_graft_bm25_index" in final  # reads from storage
    assert "PushedFilters: [" in final and "In(term" in final
    assert "Generate" not in final  # no query-time tokenize
    assert "BroadcastExchange" in final
    assert "TakeOrderedAndProject" in final
    assert "CartesianProduct" not in final


def test_substring_minimizer_selection_is_in_row_no_window(spark):
    """q_dedup_substring_minimizer's scale contract: winnowing
    selection happens ENTIRELY IN-ROW (higher-order aggregate over the
    doc's own span-hash array) — the plan has NO window operator and
    no per-(doc, window) exchange (the DuckDB oracle's row_number
    formulation is the oracle's business, not the plan's), and the
    only Generate nodes explode the ~2m/(w+1) SELECTED hashes, never
    the full span set. No cartesian anywhere."""
    p = plan(all_queries()["q_dedup_substring_minimizer"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    # Selection is not a window function: the winnowing pick must fold
    # in-row over the doc's own span-hash array, never via a
    # per-(doc, window) exchange. Since the r15 single-pass rewrite a
    # Window node IS present downstream — count() over the SELECTED
    # (h, doc_id) aggregate for dup detection (~2m/(w+1) rows, not the
    # span set) — so pin the absence of the per-doc selection window by
    # its partition spec instead of a blanket node ban: every Window in
    # the plan must partition by the span hash h alone (a doc_id-keyed
    # window would be the banned selection shape).
    import re as _re

    specs = _re.findall(r"Window \[[^\n]*\], \[([^\]\n]*)\]", p)
    assert specs, "expected the r15 dup-count window over h"
    for spec in specs:
        assert spec.startswith("h#") and "doc_id" not in spec, spec
    # ONE explode branch since r15 (the single-pass chain), of the
    # SELECTED hashes only; formatted plans name each node twice
    assert p.count("Generate") <= 2


def test_pca_k_projection_is_in_row_all_k_eigvecs_broadcast(spark):
    """q_emb_pca_k (r13) inherits pca2's projection-leg contract for
    ALL _PCA_K components: the k projections compute per vector with NO
    vec_id exchange, no repartition round-trip, no cartesian — since
    r16 as ONE Arrow-batched MapInPandas with the whole eigvec block in
    the closure. The block iteration itself (matvec + whole-block GS)
    runs on the driver over the collected covariance, so none of its
    d-bounded machinery can appear here."""
    p = plan(all_queries()["q_emb_pca_k"](spark, SF_SMOKE))
    assert "hashpartitioning(vec_id" not in p
    assert "RoundRobinPartitioning" not in p
    assert "CartesianProduct" not in p
    assert p.count("MapInPandas") >= 1  # the single projection leg
    assert "Exchange" not in p.split("== Initial Plan ==")[0]


def test_ivf_pq_multiprobe_keeps_pq_plan_shape(spark):
    """q_sim_ivf_pq_multiprobe inherits q_sim_ivf_pq's plan verbatim —
    nprobe only widens the bounded probe→cell fan-out table, so the
    plan must still show broadcast index halves and no cartesian."""
    p = plan(all_queries()["q_sim_ivf_pq_multiprobe"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("BroadcastExchange") >= 2  # centroids + codebook/probes
    assert "BroadcastHashJoin [cid" in final or "BroadcastHashJoin [ncid" in final


def test_countmin_aggregates_partially_with_no_window(spark):
    """q_agg_countmin's 100 TB contract: the sketch build is ONE
    groupBy over (day, j, bucket) with MAP-SIDE partial aggregation
    (the shuffle carries <= cells x partitions rows, never the corpus),
    the merge is another tiny groupBy, the probe lookup joins a
    BROADCAST of the 256-cell sketch, and nothing needs a Window or a
    Python worker."""
    p = plan(all_queries()["q_agg_countmin"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    assert "partial_count" in final or "partial_sum" in final
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final


def test_text_entropy_is_two_aggregations_no_python(spark):
    """q_text_entropy must stay the tfidf scan shape: explode -> one
    (doc, term) groupBy with partial aggregation -> one doc groupBy —
    no joins beyond none, no Window, no Python evaluation (the
    quantized contributions are builtin floor/log expressions)."""
    p = plan(all_queries()["q_text_entropy"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    assert "partial_count" in final or "partial_sum" in final
    assert "Generate explode" in final or "Generate" in final


def test_phash_pairs_at_value_level_through_equi_join(spark):
    """q_multimodal_phash's scale contract: decode+hash is the
    zero-shuffle 1:1 media pass (two MapInPandas stages, no exchange
    between them), docs COLLAPSE to distinct hash values before any
    pairing (a groupBy feeds the join), and the candidate join is an
    equi-join on (blk, bval) — never a cartesian or a doc x doc
    nested loop."""
    p = plan(all_queries()["q_multimodal_phash"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    # r15: the encode+dhash media pass runs exactly ONCE, inside the
    # materialization of the V-sized value table (lazy localCheckpoint)
    # — before, each of the four value-table consumers re-ran the two
    # MapInPandas stages (8 Python nodes in the plan, the corpus
    # decoded 4×). The query plan itself must therefore show NO
    # MapInPandas (the pass is upstream of the Scan ExistingRDD
    # leaves), and still never a cartesian/doc-level nested loop.
    assert final.count("MapInPandas") == 0
    assert "ExistingRDD" in final  # the materialized value table
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "Join [blk" in final or "join [blk" in final.lower()


def test_lm_bigram_trains_from_one_corpus_pass_no_python(spark):
    """q_text_lm_bigram's scale contract: bigrams come from the in-row
    slice idiom (one Generate, no position self-join), the LM is
    two-phase aggregation with map-side partials, the left-context
    totals derive from the counts table (no extra corpus scan shape),
    and nothing crosses to Python."""
    p = plan(all_queries()["q_text_lm_bigram"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    assert "partial_count" in final or "partial_sum" in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_ivf_recall_exact_leg_broadcasts_probes(spark):
    """q_sim_ivf_recall deliberately pays the exact O(|probes|·n) leg;
    the plan must show the PROBE side broadcast into that scan (never
    a corpus×corpus cartesian) and the overlap join as an equi-join on
    (probe_id, neighbor_id)."""
    p = plan(all_queries()["q_sim_ivf_recall"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" in final  # probes × corpus, bounded side
    assert final.count("BroadcastNestedLoopJoin") <= 2


def test_drift_psi_is_one_pass_fixed_bins(spark):
    """q_emb_drift_psi's scale contract: ONE corpus pass — fixed-edge
    binning (no quantile sort), one groupBy over <=10 bins with
    map-side partial aggregation, the totals joined back as a
    broadcast of a bin-bounded frame; no Window, no Python worker."""
    p = plan(all_queries()["q_emb_drift_psi"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    assert "partial_sum" in final or "partial_count" in final
    assert "CartesianProduct" not in final  # the tot join is broadcast-NL on 1 row


def test_binary_hamming_scan_is_integer_codegen(spark):
    """q_sim_binary_hamming's scale contract: the corpus-sized Hamming
    stage is ONE broadcast (bounded probes) × corpus scan of integer
    XOR+popcount inside whole-stage codegen — no CartesianProduct, no
    Python worker; the two Windows are both probe-partitioned
    (candidate cut and rerank), and the float cosine only ever sees
    the R-bounded candidate frame."""
    import re

    p = plan(all_queries()["q_sim_binary_hamming"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" in final
    assert final.count("BroadcastNestedLoopJoin") == 1
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    # exactly the two probe-partitioned Windows (candidate cut, rerank);
    # WindowGroupLimit nodes are the rank-limit pushdown — keep them
    assert len(re.findall(r"Window \[", final)) == 2
    assert "WindowGroupLimit" in final


def test_mrl_recall_single_broadcast_scan(spark):
    """q_emb_mrl_recall's scale contract: the bounded probe set
    broadcasts against the corpus (no CartesianProduct); the overlap
    join between the two k-bounded legs is NOT a second corpus-sized
    exchange pattern; no Python worker touches the path."""
    p = plan(all_queries()["q_emb_mrl_recall"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" in final
    assert final.count("BroadcastNestedLoopJoin") <= 2  # one per leg
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_sample_epochs_broadcasts_factor_table(spark):
    """q_sample_epochs' scale contract: the corpus is scanned once and
    never shuffled — the only exchange carries the |sources|-row token
    aggregate; the factor table comes back as a broadcast join; the
    epoch fan-out is a Generate (sequence explode), not a join; no
    Python worker."""
    p = plan(all_queries()["q_sample_epochs"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "Generate" in final and "explode" in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    assert "CartesianProduct" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_collocations_use_take_ordered_cut(spark):
    """q_text_collocations' scale contract: the top-N cut is
    TakeOrderedAndProject (per-partition heaps), never a global Sort;
    both count tables aggregate two-phase (partial_count below the
    exchange); no Python worker."""
    p = plan(all_queries()["q_text_collocations"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    assert "partial_count" in final or "partial_sum" in final
    assert "CartesianProduct" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_agg_moments_single_two_phase_aggregate(spark):
    """q_agg_moments' scale contract: ONE two-phase aggregate — the
    eight power sums partial map-side (each task ships 8 numbers per
    group through the only exchange) and the moment algebra projects
    over the |groups|-row result; no Window, no join, no Python."""
    p = plan(all_queries()["q_agg_moments"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "partial_" in final
    assert final.count("Exchange") <= 2  # agg shuffle (+AQE read)
    assert "Join" not in final and "Window" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_wav_vad_zero_shuffle(spark):
    """q_multimodal_wav_vad's scale contract: encode → decode+frame+
    threshold+RLE are two chained mapInPandas stages with ZERO
    exchanges — the islands fan-in is row-local to the doc, so a
    window-function implementation (which would shuffle every frame
    row on doc_id) must never reappear."""
    p = plan(all_queries()["q_multimodal_wav_vad"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "Exchange" not in final
    assert "Window" not in final


def test_ts_ewma_no_window_no_python(spark):
    """q_ts_ewma's scale contract: two key-hashed aggregates (bucket
    means, then the per-user collect+fold) — the fold is an in-row
    codegen HOF over the span-bounded bucket array; no window
    functions, no Python worker, no join."""
    p = plan(all_queries()["q_ts_ewma"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    assert "Join" not in final
    assert "partial_" in final  # bucket means combine map-side


def test_centroid_classify_corpus_side_is_map_only(spark):
    """q_emb_centroid_classify's scale contract: the corpus leg is one
    scan × one 1-row broadcast (the centroid book) with the argmax
    entirely in-row — no Window, no Python, and the only join is that
    single broadcast nested loop; exchanges exist only in the
    |labels|·dim centroid build."""
    p = plan(all_queries()["q_emb_centroid_classify"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final
    assert final.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final


def test_events_transitions_single_user_shuffle(spark):
    """q_events_transitions' scale contract: one user_id exchange feeds
    the lead window; everything after it is bounded by the type
    vocabulary (two-phase pair counts, broadcast normalizer join) —
    no sort-merge join, no Python."""
    p = plan(all_queries()["q_events_transitions"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "Window" in final
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_binary_recall_single_broadcast_two_legs(spark):
    """q_sim_binary_recall's scale contract: both legs share the one
    bounded-probe broadcast against the corpus; the overlap join is an
    equi-join on (probe_id, neighbor_id); no CartesianProduct, no
    Python."""
    p = plan(all_queries()["q_sim_binary_recall"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" in final
    assert final.count("BroadcastNestedLoopJoin") <= 2
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_events_attribution_single_window_no_self_join(spark):
    """q_events_attribution's scale contract: the as-of attribution is
    ONE carry-forward window over a user_id exchange — NOT the naive
    touches x purchases self-join — so the plan holds exactly one
    Window, no join of any kind before the channel-bounded aggregate,
    and no Python."""
    p = plan(all_queries()["q_events_attribution"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert final.count("Window") == 1
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in final, j
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_events_attribution_tolerance_single_window_no_self_join(spark):
    """The tolerance variant inherits the base op's scale contract
    unchanged: the 24 h cut must NOT introduce a second window pass or
    any join — one Window (two last(ignorenulls) columns share the one
    ordered frame), zero joins, no Python."""
    p = plan(all_queries()["q_events_attribution_tolerance"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert final.count("Window") == 1
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in final, j
    assert "BatchEvalPython" not in final and "MapInPandas" not in final


def test_binary_bucketed_candidate_stage_is_equi_only(spark):
    """q_sim_binary_bucketed's whole point (VERDICT r14 item 3): the
    candidate stage is a bucket EQUI join on (blk, bval) — no
    CartesianProduct and no BroadcastNestedLoopJoin ANYWHERE in the
    plan, unlike the flat twin q_sim_binary_hamming whose probe×corpus
    `vec_id != probe_id` scan is nested-loop by construction. The
    bounded probe blocks broadcast; the corpus sketch table is read
    once, not per probe batch; no Python worker anywhere."""
    p = plan(all_queries()["q_sim_binary_bucketed"](spark, SF_SMOKE))
    final = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "BroadcastHashJoin" in final
    assert "PythonUDF" not in final and "ArrowEvalPython" not in final
    # the flat twin's candidate stage IS the nested loop — keep the
    # contrast pinned so the two rows can't silently converge
    pflat = plan(all_queries()["q_sim_binary_hamming"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in pflat.split("== Initial Plan ==")[0]


def test_ivfpq_cdc_apply_read_prunes_partitions(spark):
    """q_sim_ivf_pq_cdc's apply leg reads the base index through
    `where(cid.isin(affected))` over the partitionBy(cid) layout — the
    scan must carry the cid list as PartitionFilters (only delta
    cells' files opened), and the behavioral twin
    (test_operators.py::test_ivfpq_cdc_touches_only_affected_cells)
    pins the write side at file level. Probed on the same layout the
    op writes."""
    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivfpq_cdc_base_build,
        _ivfpq_cdc_old_corpus,
        _vecs,
    )

    v = _vecs(spark, SF_SMOKE)
    old = _ivfpq_cdc_old_corpus(v)
    c = _centroids(old)
    path = _ivfpq_cdc_base_build(spark, old, c, SF_SMOKE)
    pruned = spark.read.parquet(f"{path}/members").where(
        F.col("cid").cast("bigint").isin([1, 2, 3])
    )
    p = full_plan(pruned)
    seen = False
    for line in p.splitlines():
        if "PartitionFilters" not in line:
            continue
        clause = line.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        seen = seen or "cid" in clause
    assert seen, "members scan did not prune on cid"


def test_recall_report_exact_leg_materialized_once(spark):
    """q_sim_recall_report's exact ground-truth frame feeds all three
    union legs from ONE materialization (one LogicalRDD, planned as Scan
    ExistingRDD, in each leg's exact subtree) —
    without it each leg re-evaluates the full brute-force
    probes×corpus search, tripling the report's most expensive subtree
    (r16; measured 5.18 s → 4.46 s best-of-3 at sf0.01)."""
    df = all_queries()["q_sim_recall_report"](spark, SF_SMOKE)

    def kids(n):
        return [n.children().apply(i) for i in range(n.children().size())]

    def nodes(n):
        yield n
        for k in kids(n):
            yield from nodes(k)

    def is_left_join(n):
        return n.nodeName() == "Join" and n.joinType().toString() == "LeftOuter"

    # each union leg is `exact LEFT JOIN approximate`: the exact-leg
    # subtree is the left side of the leg's top left join, so a
    # checkpoint an approximate leg adds is not counted here
    optimized = df._jdf.queryExecution().optimizedPlan()
    union = next(n for n in nodes(optimized) if n.nodeName() == "Union")
    exact = [next(filter(is_left_join, nodes(leg))).left() for leg in kids(union)]
    scans = [n for e in exact for n in nodes(e) if n.nodeName() == "LogicalRDD"]
    # three consumers of the single checkpointed exact frame
    assert len(exact) == 3 and len(scans) == 3
    assert len({n.rdd().id() for n in scans}) == 1


def test_plan_digest_sees_through_checkpoints(spark, monkeypatch):
    """``tools/dump_plans.py --digest`` hashes every frame a build
    checkpointed, not only the returned one. q_dedup_cluster returns a
    window over a checkpoint (``LogicalRDD``), so its pair generation —
    and the Jaccard threshold in it — shows only below the checkpoints:
    mutating the threshold must change the digest, and two builds of
    the same plan must not."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from dump_plans import plan_digest

    from copy_databasetables_spark.operators import dedup

    base = plan_digest(spark, "q_dedup_cluster", SF_SMOKE)
    assert plan_digest(spark, "q_dedup_cluster", SF_SMOKE) == base
    monkeypatch.setattr(dedup, "_JACCARD_TAU", 0.90)
    assert plan_digest(spark, "q_dedup_cluster", SF_SMOKE) != base
