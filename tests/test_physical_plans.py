"""Physical-plan regression checks: the properties that make these
queries survive a 100x scale-up (predicate pushdown into the parquet
scan, column pruning, broadcast joins for dimensions, whole-stage
codegen) must be visible in explain output."""

from __future__ import annotations

from canadiannewsdatapipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _fresh_df(spark, name: str):
    # bypass the registry's plan cache: plan-shape assertions need a
    # fresh, never-executed DataFrame — a memoized one that an earlier
    # test already ran has a finalized AdaptiveSparkPlan, and explain
    # then prints BOTH the initial and final plans (doubling node
    # counts)
    fn = QUERIES[name].fn
    return getattr(fn, "__wrapped__", fn)(spark, SF)


def _formatted(spark, name: str) -> str:
    df = _fresh_df(spark, name)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_scan_pushdown_and_pruning(spark):
    plan = _formatted(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 needed columns reach the scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    # map-side partial aggregation before the exchange (combine at scale)
    df = _fresh_df(spark, "q1_pricing_summary")
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "partial_sum" in simple and "Exchange hashpartitioning" in simple


def test_q5_dimensions_broadcast(spark):
    plan = _formatted(spark, "tpch_q5_regional_volume")
    # every dimension joins as broadcast; lineitem streams on the probe side
    assert plan.count("BroadcastHashJoin Inner BuildRight") == 5
    assert "SortMergeJoin" not in plan


def test_q2_single_window_shuffle(spark):
    plan = _formatted(spark, "q2_enriched_join_dedup")
    # the dedup is one window over one shuffle, not a self-join
    assert "Window" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q2_semi_join_prunes_lineitem_before_window(spark):
    """The date filter keeps ~15% of orders; the lineitem window must
    rank only surviving orderkeys, not the whole fact table. Assert the
    LeftSemi prune sits below the window exchange (so the exchange
    carries pruned rows), and that the rank-1 limit is pushed map-side
    (partial WindowGroupLimit before the shuffle)."""
    df = _fresh_df(spark, "q2_enriched_join_dedup")
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "LeftSemi" in simple
    lines = simple.splitlines()
    semi_depth = next(i for i, l in enumerate(lines) if "LeftSemi" in l)
    exch_depth = next(
        i for i, l in enumerate(lines) if "Exchange hashpartitioning(l_orderkey" in l
    )
    assert exch_depth < semi_depth, "semi prune must run below the window exchange"
    assert "WindowGroupLimit" in simple and "Partial" in simple


def test_transformed_single_window_exchange(spark):
    # all 7 window partitionings share one exchange on author_t
    # (author -> trim(author) functional dependency; see plans/models.py).
    # Built fresh: the registered query returns the persisted _TR_CACHE
    # frame, whose finalized-AQE string nests cached-plan exchanges.
    from canadiannewsdatapipeline_spark.plans.models import stg_articles, transformed
    from canadiannewsdatapipeline_spark.queries.news import _raw_news

    df = transformed(stg_articles(_raw_news(spark, SF)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 8  # 8 window ops, one shared shuffle


def test_backfill_has_no_join(spark):
    plan = _formatted(spark, "j4_backfill_within_group")
    # correlated-subquery rewrite: window aggregate, zero joins
    assert "Join" not in plan and "Window" in plan


def _simple(spark, name: str) -> str:
    df = _fresh_df(spark, name)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def test_emb_quantize_is_map_only(spark):
    # pure higher-order array functions: no shuffle, no Python worker
    plan = _simple(spark, "emb_quantize_stats")
    assert "Exchange" not in plan and "Python" not in plan


def test_pii_scrub_is_map_only(spark):
    plan = _simple(spark, "text_pii_scrub")
    assert "Exchange" not in plan and "Python" not in plan


def test_repetition_single_gram_shuffle(spark):
    # all three gram widths share one tagged explode: exactly the
    # (id, gram) exchange + the per-id exchange, not 3x2
    plan = _simple(spark, "text_repetition")
    assert plan.count("Exchange hashpartitioning") == 2


def test_range_join_is_equi_not_cartesian(spark):
    # user_id equi-key carries the join; the time bound is a post-join
    # condition — never a nested-loop/cartesian plan
    plan = _simple(spark, "events_window_range_join")
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_corpus_filter_no_nested_loop(spark):
    plan = _simple(spark, "corpus_quality_filter")
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_q6_full_pushdown_no_row_shuffle(spark):
    # all four predicates reach the scan; the only exchange is the
    # single-row partial->final aggregate
    plan = _formatted(spark, "tpch_q6_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_returnflag" not in read
    simple = _simple(spark, "tpch_q6_revenue")
    assert "partial_sum" in simple
    assert "Exchange hashpartitioning" not in simple  # only SinglePartition


def test_pack_shards_shuffles_counts_not_text(spark):
    # the window exchange must move (id, grp, n_tokens), never the
    # document text — the property that keeps shard packing viable at
    # 100 TB (text stays at the scan, only 24 bytes/row shuffle)
    plan = _simple(spark, "pack_token_shards")
    # plan text lists post-shuffle operators BEFORE the Exchange line:
    # neither the text column nor the tokenizer may appear above it
    above, _, below = plan.partition("Exchange hashpartitioning")
    assert "regexp_extract_all" not in above and "text#" not in above
    # and the tokenizer runs exactly once, at the scan side
    assert below.count("regexp_extract_all") == 1


def test_semi_join_no_fanout(spark):
    plan = _simple(spark, "j_semi_exists")
    assert "LeftSemi" in plan


def test_rolling_range_single_exchange(spark):
    # one hash exchange on user_id carries both windowed aggregates
    plan = _simple(spark, "a_rolling_time_range")
    assert plan.count("Exchange hashpartitioning") == 1


def test_window_suite_single_exchange(spark):
    # lag/lead/row_number/ntile/cume_dist all share one window spec ->
    # exactly one shuffle
    plan = _simple(spark, "a_window_suite")
    assert plan.count("Exchange hashpartitioning") == 1


def test_fuzzy_levenshtein_broadcast_not_shuffle(spark):
    # theta-join on a dim must be broadcast nested loop, never a
    # shuffled cartesian
    plan = _simple(spark, "f_fuzzy_levenshtein")
    assert "BroadcastNestedLoop" in plan and "CartesianProduct" not in plan


def test_char_entropy_map_only_and_compiles(spark):
    # fixed-alphabet entropy: no shuffle, no Python, and the fold stays
    # under the codegen method limit (a flat 26-term expression doesn't)
    plan = _simple(spark, "text_char_entropy")
    assert "Exchange" not in plan and "Python" not in plan


def test_multi_distinct_single_expand(spark):
    # N COUNT(DISTINCT) columns -> ONE Expand pass, not N scans
    plan = _simple(spark, "a_multi_distinct")
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1


def test_q18_semi_join_for_having_in(spark):
    plan = _simple(spark, "tpch_q18_large_orders")
    assert "LeftSemi" in plan


def test_ann_cascade_shuffles_narrow_keys_not_vectors(spark):
    # the exact-dedup collapse groups on the 16-byte vkey (md5 of the
    # canonical vector string), never on the raw 64-double array: no
    # Exchange may hash-partition on an embedding/vector column
    plan = _formatted(spark, "sim_ann_lsh")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "mv#" not in line and "embedding#" not in line, line
    assert "vkey" in plan


def test_ann_topk_fallback_side_is_broadcast(spark):
    """The per-query brute-force fallback in ann_topk is
    broadcast(short-queries) x corpus — the bounded degradation the
    docstring claims. With deliberately mistuned tables (one 16-bit
    table: nearly every query falls short of k candidates) the
    fallback dominates the plan, and it must appear as a
    BroadcastNestedLoopJoin (bounded build side), never a
    CartesianProduct."""
    from pyspark.sql import functions as F

    from canadiannewsdatapipeline_spark.operators.similarity import ann_topk
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, SF, "embeddings")
    df = ann_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < 20, k=5,
        n_tables=1, n_planes=16,
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_multiprobe_plan_shape(spark):
    """Bit-pool multi-probe ANN: the signature stage is one Arrow
    MapInPandas (not 252 literal-plane folds — those cost 35 s of
    analysis, measured), candidate screening joins broadcast the
    signature words (the below-the-gate mode — the registered query's
    sf-scale input auto-selects it), and no Exchange ever carries a
    raw vector."""
    plan = _formatted(spark, "sim_ann_lsh_multiprobe")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "mv#" not in line and "embedding#" not in line, line


def test_multiprobe_shuffle_mode_plan_shape(spark, monkeypatch):
    """Twin of test_multiprobe_plan_shape for the ABOVE-the-gate mode
    (corpus too big to broadcast, the 1e7+-vector regime): with the
    auto gate forced to 0 bytes the four corpus-side joins (signature
    words wa/wb + both exact-verify vector sides) must all plan as
    ShuffledHashJoin — pinned, not AQE-decided, because post-
    mapInPandas stats are garbage (a 41.6M-row side was measured
    mis-broadcast) — alongside the probes-homes SHUFFLE_HASH join.
    Every pass of a chunked run is this same pass_pairs pipeline over
    a table slice, so the exchange rule pinned here holds for each
    pass: the quadratic candidate stream stays ids-only and no
    Exchange hashes on a raw vector column — only the linear corpus
    relation ships vectors."""
    from canadiannewsdatapipeline_spark.operators import similarity as sim
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(sim, "MP_BROADCAST_MAX_INPUT_BYTES", 0)
    df = sim.ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding", 0.4, n_tables=8
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    # probes x homes + wa + wb + ev_a + ev_b
    assert plan.count("ShuffledHashJoin") >= 5, plan.count("ShuffledHashJoin")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "mv#" not in line and "embedding#" not in line, line


def test_multiprobe_auto_chunking_flips_on_disk_budget(spark):
    """In the shuffle tier with no tables_per_pass, the operator packs
    its passes from the exact candidate count vs the disk budget. A
    tiny budget must flip it to eager chunked passes (checkpointed RDD
    scans, every per-pass join pipeline gone), and so must the
    spark.cndp.mp.diskBudgetBytes conf; the default budget keeps the
    single-pass shuffle shape at this input size (one probes-homes
    join + four corpus attaches)."""
    from canadiannewsdatapipeline_spark.operators import similarity as sim
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, SF, "embeddings")

    def plan(**kw):
        df = sim.ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", 0.4, n_tables=8,
            broadcast_corpus=False, **kw
        )
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def chunked(p):
        return "Scan ExistingRDD" in p and "ShuffledHashJoin" not in p

    assert chunked(plan(disk_budget_bytes=1))
    # the conf feeds the same resolver; its report is the plan to run
    spark.conf.set("spark.cndp.mp.diskBudgetBytes", "1")
    try:
        rep = sim.mp_mode_report(
            emb, "vec_id", "embedding", n_tables=8, broadcast_corpus=False
        )
        assert rep["regime"] == "chunked-shuffle" and rep["n_passes"] == 8
    finally:
        spark.conf.unset("spark.cndp.mp.diskBudgetBytes")
    single = plan()
    assert 5 <= single.count("ShuffledHashJoin") < 15


def test_multiprobe_auto_chunking_is_eager_by_default(spark):
    """When auto-sizing engages (stream estimate exceeds the budget)
    and the caller set no eager knob, the passes must be EAGER: lazy
    chunking bounds per-exchange rows but lets every pass's shuffle
    files accumulate in the one job — the disk budget is only honored
    with the per-pass materialization barrier (measured sawtooth,
    SCALE.md §Round-7). Eager passes surface as checkpointed RDD
    scans with the per-pass lineage gone."""
    from canadiannewsdatapipeline_spark.operators import similarity as sim
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, SF, "embeddings")
    df = sim.ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding", 0.4, n_tables=8,
        broadcast_corpus=False, disk_budget_bytes=1,
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Union" in plan
    assert "Scan ExistingRDD" in plan
    assert "ShuffledHashJoin" not in plan


def test_dedup_cascade_shuffles_keys_not_text(spark):
    # text-dedup cascade: the collapse groups on the md5 token key and
    # the signature agg on rep ids — no Exchange keyed on raw text
    for name in ("dedup_lsh_verified", "dedup_minhash_lsh"):
        plan = _formatted(spark, name)
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "text#" not in line and " t#" not in line, (name, line)


def test_bigram_lm_single_occurrence_shuffle(spark):
    # Round-5 re-measured shape (SCALE.md §Round-5): the round-4
    # per-(doc, bigram) collapse collapsed nothing on this corpus
    # (96.5% of occurrences unique) while costing an occurrence-scale
    # string-keyed shuffle — it must NOT come back. The model groupBy
    # is map-side combinable (partial_count before its exchange) and
    # vocabulary-bounded; the only exchange allowed to carry doc_id is
    # the final per-doc aggregation, whose partials collapse map-side.
    plan = _simple(spark, "text_bigram_logprob")
    assert "partial_count" in plan
    doc_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "doc_id" in l
    ]
    assert len(doc_exchanges) == 1, doc_exchanges
    # no occurrence-collapse exchange keyed (doc_id, w1, w2)
    assert not any("w1" in l and "w2" in l for l in doc_exchanges), doc_exchanges


def test_bigram_lm_tokenizes_corpus_at_most_twice(spark):
    # r12 optimization: uni is persisted so the vocab count and the
    # model join share one tokenize+explode — the corpus-scale regex
    # pass must not come back a third time. Fresh plan: exactly the
    # bigram-cache build and the unigram-cache build scan documents.
    plan = _formatted(spark, "text_bigram_logprob")
    doc_scans = [
        l
        for l in plan.splitlines()
        if l.startswith("Location:") and "documents.parquet" in l
    ]
    assert len(doc_scans) <= 2, doc_scans


def test_daily_resample_scans_input_once(spark):
    # r12 optimization: the date-spine bounds derive from the persisted
    # daily aggregate (one row per day) instead of a second full scan
    # of the input — q7's plan must show exactly one events scan.
    plan = _formatted(spark, "q7_daily_timeseries")
    ev_scans = [
        l
        for l in plan.splitlines()
        if l.startswith("Location:") and "events.parquet" in l
    ]
    assert len(ev_scans) == 1, ev_scans


def _doc_locations(plan: str, table: str) -> list[str]:
    return [
        l
        for l in plan.splitlines()
        if l.startswith("Location:") and f"{table}.parquet" in l
    ]


def test_contamination_check_scans_corpus_at_most_thrice(spark):
    # r12 optimization: one left join + single aggregate replaces the
    # hits/totals/outer-join triple, and ev_ids is persisted — the
    # fresh plan must hold at three documents scans (eval shingles,
    # train shingles, ev_ids build), down from six.
    plan = _formatted(spark, "contamination_check")
    assert len(_doc_locations(plan, "documents")) <= 3, plan[:2000]


def test_ann_ivf_assignment_runs_once(spark):
    # r12 optimization: the (id, cell) assignment is persisted so the
    # cell self-join's two sides share one corpus x centroids pass —
    # at most 4 embeddings scans (cells build incl. centroid slice +
    # the two vector re-attach sides), down from six.
    plan = _formatted(spark, "sim_ann_ivf")
    assert len(_doc_locations(plan, "embeddings")) <= 4, plan[:2000]
    assert "InMemoryRelation" in plan


def test_scd2_incremental_builds_dim_and_touched_once(spark):
    # r12 optimization: dim (query-level) and the batch's distinct key
    # set (operator-level) are persisted across the semi/anti split —
    # at most 3 events scans (dim build, touched build, merged batch),
    # down from five.
    plan = _formatted(spark, "scd2_incremental_apply")
    assert len(_doc_locations(plan, "events")) <= 3, plan[:2000]


def test_tfidf_tokenizes_corpus_once(spark):
    # r12 optimization: tf is persisted so the df aggregate and the
    # score join share one tokenize+explode — at most 2 documents
    # scans (tf build + the n_docs count), down from three.
    plan = _formatted(spark, "text_tfidf_topterms")
    assert len(_doc_locations(plan, "documents")) <= 2, plan[:2000]


def test_cohort_retention_scans_fact_twice(spark):
    # r12 optimization: the per-user cohorts aggregate is persisted so
    # the size count and the retention join share one fact MIN-pass —
    # at most 2 events scans (cohorts build + activity), down from 3.
    plan = _formatted(spark, "events_cohort_retention")
    assert len(_doc_locations(plan, "events")) <= 2, plan[:2000]


def test_compute_bound_cosine_stages_are_spread(spark):
    # r12 optimization (operators/spread.py): the quadratic per-pair
    # cosine folds run on the streamed side of a nested-loop join, so
    # byte-based scan splitting / AQE coalescing would serialize them
    # on one task; an explicit round-robin repartition to the session's
    # configured parallelism must be visible in the plan.
    for name in ("dedup_embedding_cosine", "sim_topk_cosine"):
        plan = _formatted(spark, name)
        assert "RoundRobinPartitioning" in plan, name


def test_multitable_bucket_fold_shared_and_spread(spark):
    # r12 optimization: sim_ann_lsh's bucket stage (the heaviest
    # compute-per-byte stage in the engine) is persisted so both
    # candidate-join sides share one pass, its input is spread so it
    # parallelizes, and (closing r12) it is the Arrow kernel, not the
    # 64-literal-array fold form whose analyzer walk cost 2.66 s of plan
    # construction per build.
    plan = _formatted(spark, "sim_ann_lsh")
    assert "InMemoryRelation" in plan
    assert "RoundRobinPartitioning" in plan
    assert "MapInPandas" in plan


def test_ivf_assignment_and_verify_are_spread(spark):
    # r12 optimization: the corpus side of the centroid-assignment
    # cross join is round-robin spread, and the in-cell verify join's
    # inputs are hash-spread on (cell[, id]) so the quadratic-per-cell
    # verify folds parallelize instead of collapsing to one task.
    plan = _formatted(spark, "sim_ann_ivf")
    assert "RoundRobinPartitioning" in plan
    assert plan.count("hashpartitioning(cell") >= 2, plan[:2000]


def test_exact_substring_digests_once_and_spread(spark):
    # r12 optimization: the md5-per-window shingle frame is persisted
    # (both self-join sides consume it) and its input spread.
    plan = _formatted(spark, "dedup_exact_substring")
    assert "InMemoryRelation" in plan
    assert "RoundRobinPartitioning" in plan
