"""Physical-plan shape assertions — the scale contract, enforced.

Correctness is the oracle gate's job; these tests pin the *plans*:
pushdown reaching the parquet scan, broadcasts where a dimension is
small, top-N without a global sort, single-Expand grouping sets, and
the regex dictionary keeping the rule chain off the fact path. A
regression here is invisible at sf0.001 and fatal at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fintrack_etl_spark.io import table


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    li = table(spark, "lineitem", sf_dir)
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _phys(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan, plan
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs, rs


def test_mode_backfill_join_is_broadcast(spark, sf_dir):
    from fintrack_etl_spark.queries import j2_mode_backfill

    plan = _phys(j2_mode_backfill(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_topn_avoids_global_sort(spark, sf_dir):
    from fintrack_etl_spark.queries import o1_top_abs

    plan = _phys(o1_top_abs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_dedup_latest_prunes_with_window_group_limit(spark, sf_dir):
    from fintrack_etl_spark.queries import w1_dedup_latest

    plan = _phys(w1_dedup_latest(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_grouping_sets_single_expand_single_shuffle(spark, sf_dir):
    from fintrack_etl_spark.queries import ext_grouping_sets

    plan = _phys(ext_grouping_sets(spark, sf_dir))
    assert plan.count("Expand") >= 1
    assert plan.count("Exchange") == 1, plan


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    from fintrack_etl_spark.queries import ext_exists_subquery

    assert "LeftSemi" in _phys(ext_exists_subquery(spark, sf_dir))


def test_categorize_dictionary_keeps_regex_off_fact_plan(spark, sf_dir):
    """The rule chain must live only inside the checkpointed dictionary;
    the report query's own plan (fact scan, join, aggregate) carries no
    regex at all — at 100 TB that difference is the whole game."""
    from fintrack_etl_spark.queries_reports import QUERIES

    df = QUERIES["r3_recorrentes"](spark, sf_dir)
    plan = _opt(df)
    assert "RLIKE" not in plan, plan[:2000]
    assert len(plan) < 20_000, len(plan)


def test_rule_chain_is_planned_once(spark, sf_dir):
    """``with_categories`` evaluates the rule index in its own
    projection, so the optimized plan carries the when-chain once, here
    and in f12 (which groups on all four outputs). The struct Column
    face cannot share it: each field read keeps one copy."""
    from fintrack_etl_spark.queries import f12_categorize
    from fintrack_etl_spark.rules import DEFAULT_RULES, categorize, with_categories

    first = DEFAULT_RULES[0].patterns[0]
    fields = ("categoria", "subcategoria", "recorrente_suspeita", "parcelado_suspeito")
    df = spark.createDataFrame([("UDEMY",), (None,)], "d string")
    assert _opt(with_categories(df, "d")).count(first) == 1
    assert _opt(f12_categorize(spark, sf_dir)).count(first) == 1
    c = categorize("d")
    assert _opt(df.select(*[c[f].alias(f) for f in fields])).count(first) <= 4


def test_stop_shingle_guard_joins_are_broadcast(spark):
    """The skew guard must never itself become a skew source: the hot
    table (tiny by construction, ≤ occurrences/max_df rows) rides
    BroadcastExchange into both the anti-join (key pruning) and the
    semi-join (hot-set build) — the big exploded side never shuffles
    for either."""
    from fintrack_etl_spark.operators import dedup_text as DD

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tail{i} x{i} y{i}") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = _phys(DD.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.6, max_df=5))
    assert "BroadcastExchange" in plan, plan
    # no sort-merge anywhere on the guard path: anti/semi joins against
    # the hot table must be broadcast variants
    for line in plan.splitlines():
        if "LeftAnti" in line or "LeftSemi" in line:
            assert "Broadcast" in line, line


def test_ann_corpus_side_never_shuffles(spark, sf_dir):
    """cosine_topk_lsh / bruteforce broadcast the (small) query side;
    the corpus must reach its join with zero non-broadcast Exchange
    below it — at 100 TB a corpus shuffle is the difference between a
    scan and a cluster-wide re-write."""
    from fintrack_etl_spark.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    emb = table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3)
    for out in (cosine_topk_bruteforce(q, emb, 5), cosine_topk_lsh(q, emb, 5)):
        plan = _phys(out)
        # query side broadcasts; the corpus joins without a sort-merge
        # (no corpus-wide shuffle to meet the queries). The window
        # top-k after the join may shuffle — it carries |q| × top-k
        # rows, not the corpus.
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


def test_planted_dup_contract_query_plans(spark, sf_dir):
    """x12's physical plan: one broadcast of the (tiny) dup-query side,
    corpus scanned once, no sort-merge join."""
    from fintrack_etl_spark.queries_ext import x12_knn_lsh

    plan = _phys(x12_knn_lsh(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime-filter contract: with a selective dimension filter on a
    shuffle join, Catalyst builds a bloom filter from the dim keys and
    injects ``might_contain`` on the FACT side — rows for non-matching
    keys die at the scan instead of crossing the shuffle. At 100 TB
    this (plus AQE) is the built-in answer to semi-join reduction; the
    conf recipe below is what a cluster profile sets (the application-
    side threshold defaults to 10 GB, far above any local fixture).
    """
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # force a shuffle join (bloom injection targets non-broadcast
        # joins) and let the small fixture qualify as the application side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = table(spark, "lineitem", sf_dir)
        o = table(spark, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _phys(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_explicit_bloom_probe_runs_before_fact_exchange(spark, sf_dir):
    """Explicit-operator twin of the runtime-filter contract
    (operators/bloom.py): the probe filter (xxhash64 positions + binary
    substring decode) must sit in the fact table's scan stage, BELOW
    every Exchange — pruning after the shuffle would be cargo cult."""
    from fintrack_etl_spark.operators.bloom import bloom_prune_join

    o = table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = table(spark, "lineitem", sf_dir)
    j = (
        bloom_prune_join(li, o, "l_orderkey", "o_orderkey", num_bits=1 << 14)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _phys(j)
    lines = plan.splitlines()
    # the probe lands as the condition of a BroadcastNestedLoopJoin
    # against the 1-row bitmap table — same stage as the fact scan
    probe_line = next(i for i, ln in enumerate(lines) if "xxhash64" in ln)
    shuffle_lines = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    assert shuffle_lines, plan
    # tree prints root-first: every shuffle above (= smaller index
    # than) the probe means the probe runs before any shuffle
    assert all(i < probe_line for i in shuffle_lines), plan


def test_scd2_build_is_single_shuffle(spark, sf_dir):
    """Both SCD2 window passes (collapse + intervals) share one
    (keys × order) partitioning: exactly one Exchange, one Sort."""
    from fintrack_etl_spark.queries import QUERIES

    plan = _phys(QUERIES["ext_scd2_build"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") <= 2, plan


def test_tfidf_topk_broadcasts_stats_and_limits_window(spark, sf_dir):
    """tf-idf: the vocabulary (df) and corpus-count joins broadcast —
    the (doc,term) tf table never reshuffles for them — and the top-k
    rank prunes with WindowGroupLimit before the final filter."""
    from fintrack_etl_spark.queries_ext import QUERIES

    plan = _phys(QUERIES["x24_tfidf_topk"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1, plan       # df join
    assert plan.count("BroadcastNestedLoopJoin") >= 1, plan  # 1-row n_docs cross
    assert "WindowGroupLimit" in plan, plan


def test_chunking_is_zero_shuffle_and_prunes_columns(spark, sf_dir):
    """x27: chunking must stay a narrow map — zero exchanges — and the
    parquet scan must read ONLY (doc_id, text), not lang/source/n_chars.
    At 100 TB either regression turns a scan-speed pass into a shuffle
    of the whole corpus / a 2× wider scan."""
    from fintrack_etl_spark.queries_ext import QUERIES

    plan = _phys(QUERIES["x27_chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" in rs and "doc_id" in rs, rs
    assert "lang" not in rs and "source" not in rs and "n_chars" not in rs, rs


def test_quality_gate_is_single_narrow_pass(spark, sf_dir):
    """x30: the composite gate is one map over the scan — no shuffle,
    no UDF (PythonEval would mean a 10-100x slower scan)."""
    from fintrack_etl_spark.queries_ext import QUERIES

    plan = _phys(QUERIES["x30_quality_gate"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_funnel_fact_joins_are_broadcast(spark, sf_dir):
    """ext_event_funnel: the per-stage user tables broadcast onto the
    event scans; a SortMergeJoin would shuffle the fact three times."""
    from fintrack_etl_spark.queries import QUERIES

    plan = _phys(QUERIES["ext_event_funnel"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_vocab_join_is_broadcast(spark, sf_dir):
    """x28: the top-K vocab joins the token stream via broadcast; the
    corpus must not shuffle for the membership probe."""
    from fintrack_etl_spark.queries_ext import QUERIES

    plan = _phys(QUERIES["x28_vocab_oov"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q16_not_in_decorrelates_to_broadcast_anti_join(spark, sf_dir):
    """Q16's NOT IN must become a broadcast left-anti join, never a
    cartesian/nested-loop NOT-IN execution."""
    from fintrack_etl_spark.queries import ext_supplier_count_q16

    plan = _phys(ext_supplier_count_q16(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan or "LeftAnti" in plan
    assert "CartesianProduct" not in plan, plan


def test_q21_exists_pair_is_single_fact_shuffle(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS decorrelation: one groupBy exchange on
    the fact, then windows reuse that keying — no self-join of the fact
    against itself (the naive translation shuffles lineitem 3x)."""
    from fintrack_etl_spark.queries import ext_waiting_supplier_q21

    plan = _phys(ext_waiting_supplier_q21(spark, sf_dir))
    # lineitem appears exactly once as a scan: no self-joins
    assert plan.count("lineitem.parquet") == 1, plan


def test_q2_min_cost_uses_window_not_self_join(spark, sf_dir):
    """Q2's per-part min must be a Window over the aggregated view, not
    a second aggregate broadcast back (parts-sized — unboundable at
    100 TB)."""
    from fintrack_etl_spark.queries import ext_min_cost_supplier_q2

    plan = _phys(ext_min_cost_supplier_q2(spark, sf_dir))
    assert "Window" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_q8_dim_filters_prune_before_fact_join(spark, sf_dir):
    """Q8: the region/p_type filters must reach the dim scans (pruned
    broadcast sides), not run post-join on the fanned-out fact."""
    from fintrack_etl_spark.queries import ext_market_share_q8

    plan = _phys(ext_market_share_q8(spark, sf_dir))
    assert "= PROMO" in plan.split("FileScan parquet [p_partkey")[1].split("\n")[0], plan
    assert "= AMERICA" in plan.split("FileScan parquet [r_regionkey")[1].split("\n")[0], plan


def test_q6_all_predicates_reach_scan(spark, sf_dir):
    """Q6 is the canonical pushdown probe: date range, discount band,
    and quantity cap must ALL appear as data filters on the lineitem
    scan, and the read schema must carry only the 4 referenced
    columns."""
    from fintrack_etl_spark.queries import ext_revenue_q6

    plan = _phys(ext_revenue_q6(spark, sf_dir))
    scan_line = plan.split("FileScan parquet [l_")[1].split("\n")[0]
    for frag in ["l_shipdate", "l_discount", "l_quantity"]:
        assert frag in scan_line, scan_line
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" not in rs and "l_returnflag" not in rs, rs


def test_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    from fintrack_etl_spark.queries import ext_order_priority_q4

    plan = _phys(ext_order_priority_q4(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_exact_k_sample_uses_window_group_limit(spark, sf_dir):
    """Exact-k sampling must prune to k rows per stratum inside the
    window (WindowGroupLimit), not sort whole strata."""
    from fintrack_etl_spark.queries import ext_exact_k_sample

    plan = _phys(ext_exact_k_sample(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """AQE skew-join canary: with one key holding half the left side,
    the FINAL adaptive plan must show SortMergeJoin(skew=true) with an
    `AQEShuffleRead skewed` child — Spark's built-in complement to
    operators/skew.salted_join (which exists for the agg-then-join
    shapes AQE cannot split). The conf recipe is what a cluster
    profile sets; thresholds are shrunk so the local fixture
    qualifies. The plan must be read AFTER executing THIS DataFrame —
    .count() builds its own query execution and leaves this one
    isFinalPlan=false."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(0, 500000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.rand(1).alias("lv"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.rand(2).alias("rv")
        )
        j = left.join(right, "k")
        j.collect()
        plan = _phys(j)
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP canary: a partitioned fact joined to a filtered dim must
    carry a dynamicpruning subquery on the fact's partition column —
    at 100 TB this is the difference between scanning 2 partitions and
    scanning all of them. Partition layout comes from the same
    partitionBy(...) write path lake.py uses."""
    d = str(tmp_path / "fact")
    fact = spark.range(0, 100000).select(
        F.col("id"), (F.col("id") % 10).alias("pt"), (F.col("id") % 100).alias("v")
    )
    fact.write.partitionBy("pt").mode("overwrite").parquet(d)
    dim = (
        spark.range(0, 10)
        .select(F.col("id").alias("pt"), F.lit("x").alias("name"))
        .filter(F.col("pt").isin(3, 7))
    )
    f = spark.read.parquet(d)
    j = f.join(dim, "pt").groupBy("pt").agg(F.sum("v").alias("s"))
    plan = _phys(j)
    assert "dynamicpruning" in plan.lower(), plan


def test_choose_join_strategy_picks_each_branch(spark):
    """Sketch-driven planner (VERDICT r3 #7): broadcast for a small
    dim, salted for a hot-key side, plain shuffle otherwise — each
    branch plan-pinned and value-identical to the plain join."""
    from fintrack_etl_spark.operators.skew import choose_join_strategy

    big = spark.range(0, 4000).select(
        (F.col("id") % 200).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )

    # 1. small right side -> broadcast, hint visible in the plan
    strat, df, info = choose_join_strategy(
        big, dim, ["k"], broadcast_threshold_rows=500
    )
    assert strat == "broadcast"
    assert info["rows_left"] == 4000 and info["rows_right"] == 200
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert df.count() == 4000

    # 2. both sides above threshold, uniform keys -> plain shuffle
    r2 = spark.range(0, 3000).select(F.col("id").alias("k"), F.col("id").alias("w"))
    b2 = spark.range(0, 3000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    strat, df, info = choose_join_strategy(
        b2, r2, ["k"], broadcast_threshold_rows=100, skew_frac=0.05
    )
    assert strat == "shuffle"
    assert df.count() == 3000

    # 3. hot key (60% of the big side) -> salted; result matches the
    # plain join exactly and the salt column does not leak
    hot = spark.range(0, 5000).select(
        F.when(F.col("id") < 3000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("w")
    )
    strat, df, info = choose_join_strategy(
        hot, small, ["k"], broadcast_threshold_rows=100, skew_frac=0.05
    )
    assert strat == "salted", info
    assert info["est_max_key_freq_big"] >= 3000  # CM never undercounts
    assert set(df.columns) == {"k", "v", "w"}
    plain = hot.join(small, ["k"]).orderBy("v", "w")
    assert [tuple(r) for r in df.select("k", "v", "w").orderBy("v", "w").collect()] == [
        tuple(r) for r in plain.select("k", "v", "w").collect()
    ]

    # 4. 'left' join with the SMALL side on the left cannot broadcast
    # its own build side nor salt the right -> degrades to shuffle
    strat, df, _ = choose_join_strategy(
        dim, big, ["k"], how="left", broadcast_threshold_rows=500
    )
    assert strat == "shuffle"
    assert df.count() == big.count()  # every dim key matches 20 rows


def test_bpe_encode_dictionary_join_is_broadcast(spark, sf_dir):
    """x53's scale contract: documents are tokenized by joining the
    encoded |distinct words| dictionary — which must broadcast, so the
    corpus-sized side never shuffles for the join."""
    from fintrack_etl_spark.queries_ext import x53_bpe_encode

    plan = _phys(x53_bpe_encode(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_training_shuffle_has_no_global_window(spark, sf_dir):
    """x54's scale contract, tightened r9: no SinglePartition window
    (global sort) may appear, and since the grouped_global_rank
    rewire the within-shard position window lives INSIDE the
    operator's localCheckpoint — the emitted plan is the offsets
    broadcast join over the checkpoint scan, so no window at all (a
    plain per-shard window would have put corpus/16 rows into one
    task's sorter)."""
    from fintrack_etl_spark.queries_ext import x54_training_shuffle

    plan = _phys(x54_training_shuffle(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # the bounded two-phase rank
    assert "BroadcastHashJoin" in plan, plan  # offsets ride a broadcast


def test_dsir_weight_table_broadcasts_and_topk_takeordered(spark, sf_dir):
    from fintrack_etl_spark.queries_ext import x70_dsir_select

    plan = _phys(x70_dsir_select(spark, sf_dir))
    # the O(n_buckets) weight table must broadcast back onto the token
    # stream, and the final top-k must be a TakeOrdered, never a sort
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_phrase_search_probe_is_broadcast_semi(spark, sf_dir):
    from fintrack_etl_spark.queries_ext import x71_phrase_search

    plan = _phys(x71_phrase_search(spark, sf_dir))
    # the 1-row winning phrase broadcasts; the positional stream is
    # never sort-merge-joined
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_association_rules_never_self_join_facts(spark, sf_dir):
    from fintrack_etl_spark.queries_ext import x72_association_rules

    phys = _phys(x72_association_rules(spark, sf_dir))
    # the oracle's textbook form self-joins the fact table; the engine
    # expands pairs basket-locally over the ONE materialized basket
    # state — the fact parquet is never rescanned downstream and no
    # fact-vs-fact shuffle join exists anywhere
    assert "lineitem.parquet" not in phys, phys
    assert "SortMergeJoin" not in phys, phys
    # item counts and N are broadcast, not shuffled against the pairs
    assert "BroadcastHashJoin" in phys, phys


def test_no_exponential_alias_inlining_in_expression_heavy_plans(spark, sf_dir):
    """Round-4/5 pathology canary: PushDownPredicate substitutes
    aliases into predicates with no cost model, and
    InferFiltersFromGenerate (now excluded in session.py) plants a
    size(e) > 0 filter below every explode — together they inlined
    whole shingle/fingerprint chains into single Filter conditions at
    the scan (93-178 KB expressions, re-evaluated interpreted per row:
    the x75 hang and the x23 69.9 s regression). Pin the ceiling: no
    single optimized-plan NODE in the expression-heavy entries may
    exceed 20 KB (healthy plans sit under 3 KB per node; the blowups
    were 30-60x that)."""
    from fintrack_etl_spark.queries_ext import QUERIES

    for name in (
        "x23_decontaminate",
        "x75_audio_fingerprint_dedup",
        "x63_ppjoin_pairs",
        "ext_source_overlap",
        "x3_ngram_jaccard",
        "x4_minhash_lsh",
    ):
        jplan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan()

        def walk(node, worst=0):
            s = node.toString().split("\n", 1)[0]
            worst = max(worst, len(s))
            for i in range(node.children().size()):
                worst = max(worst, walk(node.children().apply(i)))
            return worst

        worst = walk(jplan)
        assert worst < 20_000, (
            f"{name}: optimized-plan node of {worst} chars — alias "
            f"inlining has re-exploded (see session.py excludedRules and "
            f"the _let/shingles let-binding pattern)"
        )


def test_star_cc_plans_are_join_shaped_not_collected(spark, sf_dir):
    """x83's star contraction must stay join-shaped: the per-node MIN
    is a hash aggregate and the re-target is a shuffled/broadcast join —
    never a collect_list of neighbors (a hub's adjacency must not
    materialize as one array in one task)."""
    from fintrack_etl_spark.queries import x83_cc_largestar

    plan = _opt(x83_cc_largestar(spark, sf_dir))
    assert "collect_list" not in plan and "collect_set" not in plan, plan


def test_temperature_mixture_is_metadata_sized(spark, sf_dir):
    """x84 is a |sources|-row metadata query: one grouped count of the
    corpus, everything after on the tiny aggregate (broadcast for the
    scalar total, no second scan of documents)."""
    from fintrack_etl_spark.queries_ext import QUERIES

    plan = _phys(QUERIES["x84_temperature_mixture"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "source" in rs and "text" not in rs, rs  # column-pruned scan


def test_suffix_rank_window_sort_is_bounded(spark):
    """The r9 spill bound for suffix_ranks' dense-rank window: its
    clustering exchange must be the EXPLICIT scaled repartition on
    _pid (4x the range-partition count), not the session-default
    shuffle width — hash-on-_pid satisfies the window's requirement,
    so exactly one hashpartitioning on _pid appears and it carries the
    scaled count. A repeated-text corpus keeps the doubling rounds
    alive so the returned plan is a window round, not the round-0
    dictionary join."""
    from fintrack_etl_spark.operators.suffix import (
        _rank_partitions,
        suffix_ranks,
    )

    docs = spark.createDataFrame(
        [(i, "ab racada bra " * 8) for i in range(40)], ["doc_id", "text"]
    )
    out = suffix_ranks(docs, "doc_id", "text", bound=8)
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = 4 * _rank_partitions(out, 1)  # tiny corpus -> floor partitions
    assert want == 4 * floor
    plan = _phys(out)
    lines = [
        ln for ln in plan.splitlines()
        if "hashpartitioning(_pid" in ln and "Exchange" in ln
    ]
    assert lines and all(f", {want})" in ln or f" {want})" in ln for ln in lines), (
        want,
        lines or plan[:2000],
    )


def test_prefix_sum_window_sorts_are_bounded(spark):
    """The packing / PPS-sampling / sorted-neighborhood prefix sums
    share suffix_ranks' two-phase shape, so they get the same r9 spill
    bound: the local-cumsum/rank window must consume an EXPLICIT
    hashpartitioning(_pid, parts) — the caller's data-sized partition
    count — not the session-default shuffle width."""
    from fintrack_etl_spark.operators.packing import pack_documents_by_tokens
    from fintrack_etl_spark.operators.sampling import pps_systematic_sample

    docs = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(300)], ["doc_id", "n_tokens"]
    )
    # The cumsum window sits INSIDE each operator's localCheckpoint, so
    # the output plan shows only the LogicalRDD scan — but the
    # checkpoint inherits the window's output partitioning, so the
    # observable partition count IS the canary: 6 (the caller's
    # explicit hash-on-_pid width the window consumed) rather than the
    # session shuffle default the window's own exchange would have
    # used. (sorted_neighborhood_pairs shares the same code shape but
    # re-shuffles for its bucket join, so its count is not observable
    # from the output — the shared pattern is pinned here.)
    sess_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert sess_default != 6  # the canary must be able to tell them apart
    for out in (
        pack_documents_by_tokens(docs, 64, num_partitions=6),
        pps_systematic_sample(docs, "doc_id", "n_tokens", 10, num_partitions=6),
    ):
        assert "Scan ExistingRDD" in _phys(out)  # window behind checkpoint
        assert out.rdd.getNumPartitions() == 6, out.rdd.getNumPartitions()
