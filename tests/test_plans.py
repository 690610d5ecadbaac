"""Plan-quality gates (SURVEY §4): the scale-critical physical properties
are asserted, not eyeballed. If a refactor un-broadcasts a dim join or
blocks predicate pushdown, these fail before any benchmark notices."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_spark import (  # noqa: F401
    queries_curation,
    queries_extra,
    queries_llm,
    queries_relational,
    queries_tpch_ps,
)
from data_engineering_spark.catalog import load_table
from data_engineering_spark.plans.explain import (
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from data_engineering_spark.registry import QUERIES


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """P9's three conjuncts must appear in PushedFilters on the scan."""
    df = QUERIES["p9_boolean_compound_filter"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "event_type" in pushed
    assert "value" in pushed
    assert "user_id" in pushed


def test_column_pruning_reaches_parquet(spark, sf_dir):
    """A 2-column projection must read 2 columns, not the whole table
    (SURVEY §4 'column pruning by construction')."""
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schema_columns(df)
    assert schemas and sorted(schemas[0]) == ["l_orderkey", "l_quantity"]


def test_dim_joins_are_broadcast(spark, sf_dir):
    """J4 lookup joins and TPC-H Q3/Q5 dims must plan as broadcast-hash —
    the fact side must never shuffle for a dimension."""
    for name in ("j4_broadcast_lookup_join", "tpch_q3_shipping_priority", "tpch_q5_local_supplier"):
        assert has_broadcast_join(QUERIES[name](spark, sf_dir)), name


def test_flagship_broadcasts_derived_dims(spark, sf_dir):
    df = QUERIES["flagship_serving_index"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_groupby_has_partial_aggregate(spark, sf_dir):
    """A1/Q1 aggregations must combine map-side (partial + final
    HashAggregate) so the shuffle carries partial states, not raw rows."""
    for name in ("a1_listagg_distinct", "tpch_q1_pricing_summary"):
        assert has_partial_aggregate(QUERIES[name](spark, sf_dir)), name


def test_scalar_pack_single_codegen_span(spark, sf_dir):
    """A pure projection pipeline must fuse into ONE WholeStageCodegen
    span — no Python, no fence-posts."""
    df = QUERIES["f_scalar_pack"](spark, sf_dir)
    assert wholestage_codegen_spans(df) == 1, formatted_plan(df)


def test_topk_plans_take_ordered(spark, sf_dir):
    """O3 must plan TakeOrderedAndProject (per-partition heap), not a
    global sort."""
    plan = formatted_plan(QUERIES["o3_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_does_not_materialize_right_columns(spark, sf_dir):
    """J3 left_semi: right side contributes membership only."""
    df = QUERIES["j3_semi_join"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert df.columns == ["o_orderkey", "total"]


def test_limit_does_not_full_scan(spark, sf_dir):
    """O1 limit probe plans a (Collect)Limit, not an unbounded sort of
    everything (nation is tiny but the plan shape is what scales)."""
    plan = formatted_plan(QUERIES["o1_limit_probe"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan or "Limit" in plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is a pure scan-filter-agg: shipdate/discount/quantity predicates
    must all reach the parquet reader."""
    df = QUERIES["tpch_q6_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q4_exists_plans_semi_join(spark, sf_dir):
    plan = formatted_plan(QUERIES["tpch_q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_q18_semi_join_and_partial_agg(spark, sf_dir):
    df = QUERIES["tpch_q18_large_orders"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert has_partial_aggregate(df)


def test_bucketized_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Bucketing both facts on the join key must eliminate the Exchange:
    the flagship's lineitem⋈orders co-located (SURVEY §4 / writers.bucketize)."""
    from data_engineering_spark.sources.writers import bucketize

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = bucketize(
            load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
            "test_lineitem_b", ["l_orderkey"], n_buckets=8,
        )
        o = bucketize(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            "test_orders_b", ["o_orderkey"], n_buckets=8,
        )
        joined = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = formatted_plan(joined).split("== Physical Plan ==")[-1]
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS test_lineitem_b")
        spark.sql("DROP TABLE IF EXISTS test_orders_b")


def test_shuffle_budgets(spark, sf_dir):
    """Shuffle-count ceilings for the scale-critical queries: a refactor
    that adds an Exchange fails here before any benchmark notices."""
    from data_engineering_spark.plans.explain import shuffle_count

    budgets = {
        "p9_boolean_compound_filter": 0,  # pure scan-filter
        "flagship_serving_index": 1,      # the orders rollup only
        "tpch_q1_pricing_summary": 1,     # partial→final agg
        "tpch_q6_forecast_revenue": 1,    # single-row agg
        "tpch_q5_local_supplier": 2,      # fact join + agg
        "tpch_q7_volume_shipping": 2,     # two fact joins, dims broadcast
        "tpch_q8_market_share": 2,        # same joins, single ratio agg pass
        "tpch_q12_late_shipments": 2,     # orders⋈lineitem + tiny band agg
        "tpch_q13_order_distribution": 2, # per-cust agg + tiny histogram agg
        "tpch_q17_small_quantity_revenue": 2,  # per-part avg + verify join
        "tpch_q21_waiting_suppliers": 2,  # one orderkey window + name agg
        "tpch_q22_global_sales_opportunity": 2,  # anti join + segment agg
        "m1_merge_upsert": 2,             # full-outer merge: one per side
        "m2_cdc_apply": 3,                # window collapse + anti + merge
        "m3_scd2_dimension": 4,           # current-row compare + 3 union arms
        "prof_orders_profile": 2,         # ONE agg pass (expand) + explode
        "dq_expectations": 6,             # 4 rules, each a tiny aggregate
        "skew_top_keys": 3,               # key agg + 1-row total + top-k
        "mv_incremental_refresh": 2,      # base/batch summaries merge partial
        "j8_range_join": 1,               # broadcast bands: big side no shuffle
        "j9_salted_join": 1,              # salted equi-join + partial agg
        "j10_fuzzy_join": 0,              # broadcast levenshtein: no exchange
        "curate_chunk_sliding": 0,        # pure array fan-out projection
        "curate_unigram_nll": 4,          # tok agg, join, 1-row total, doc agg
        "dedup_simhash_arrow": 3,         # map-only signature: candidates only
        "curate_decontaminate": 2,        # bench grams distinct + hit-count agg
        "nl_query_template": 1,           # compiled GROUP BY: partial→final agg
        "dedup_exact": 1,                 # one fingerprint groupBy
        "curate_pack_ffd": 2,             # id repartition + applyInPandas group
        "text_stats": 0,                  # pure expressions over the scan
        "curate_pii_redact": 0,           # regex projection, zero exchanges
        "lake_delete_scan": 1,            # post-DML snapshot agg
        "tpch_q2_min_cost_supplier": 1,   # window min on ps_partkey only
        "tpch_q9_product_type_profit": 1, # lineitem⋈orders; all dims broadcast
        "tpch_q11_important_stock": 3,    # part agg + 1-row total + reuse
        "tpch_q16_parts_supplier_relationship": 2,  # distinct-count 2-phase
        "cohort_retention": 4,            # firsts agg, weekly distinct, join, rollup — all user/cohort-keyed
        "ts_gap_fill": 3,                 # daily agg + 1-row bounds + type dim; all calendar/dim-bounded, fact scans once
        "funnel_conversion": 2,           # ONE user window pass (+ reused groupBy) + 1-row totals agg
        "sim_pq_topk": 1,                 # encode+ADC are map-only; the top-k window alone shuffles
        "w4_distribution_ranks": 1,       # one exchange on the segment key
        "w5_time_weighted_avg": 2,        # user-keyed window; groupBy reuses the key (AQE may keep 1)
        "ts_anomaly_zscore": 2,           # daily partial agg + one type-key window exchange
        "events_transition_matrix": 3,    # user window + bigram agg + matrix-sized normalizer
        "search_inverted_index": 3,       # (token, block) agg + tiny df agg + df join
        "search_query_string": 1,         # broadcast terms; ONE doc-keyed count
        "nl_query_range": 1,              # compiled GROUP BY: partial→final agg
        "mm_image_dedup": 3,              # 8-byte signature bands only ever shuffle
        "dedup_simhash_portable": 4,      # expr vote groupBy + banded candidates
        "dedup_minhash_portable": 6,      # oracle-verification variant (md5 sigs)
        "prof_heavy_hitters": 2,          # map-only sketch; candidate count + 1-row total
        "nl_query_join": 0,               # dim broadcasts: fact never shuffles
        # 4-fold incremental replays: static plan-tree counts, where each
        # batch's cand/verify chain repeats cached subtrees — the gate is
        # that a refactor adding an exchange per ingest step jumps ≥4
        "st_streaming_dedup": 90,
        # 44 main-plan exchanges (same as the pre-lattice shape) + 10
        # runtime BLOOM-FILTER build subqueries: the integer-lattice
        # store columns made the candidate-verify joins eligible for
        # InjectRuntimeFilter, so Spark now builds a bloom per join to
        # prune the probe side — each build is one tiny exchange over an
        # already-cached batch store, a pruning win, not a repartition
        # of the stream (verified by splitting formatted_plan at the
        # Subqueries marker: main == 44, subqueries == 10)
        "st_streaming_embed_dedup": 54,
        # blocked gram chain: freq agg, rank window, candidate self-join,
        # pair distinct, two verify joins — every post-blocking exchange
        # moves candidate-bounded rows, never the corpus
        "dedup_ngram_jaccard_portable": 10,
        # one series-key exchange; the greedy selection is kernel-local
        "ts_downsample_lttb_portable": 1,
        # one md5-group exchange; the FFD loop is kernel-local
        "curate_pack_ffd_portable": 1,
        # one word-count partial agg; encode runs over distinct words
        "nlp_subword_tokenize": 1,
        # distinct-words agg + doc-keyed partial agg; the word→count map
        # joins back as a broadcast
        "nlp_subword_doc_tokens": 2,
        # one fp-keyed partial-agg groupBy, scoring inside the scan
        "dedup_keep_best": 1,
        # post-checkpoint exchanges operate on ≤|strata|-row frames only;
        # the corpus agg before the checkpoint is the single corpus pass
        "curate_mixture_temperature": 3,
        # the visible plan is the post-checkpoint Arrow pass (0 exchanges);
        # the pinned lineage holds the one range-partition of the corpus
        # plus the pid-sum agg over #partitions rows
        "curate_token_budget": 0,
        # (doc, block) distinct + block-df agg + doc-keyed rebuild; the
        # df-thresholded boilerplate set joins back as a broadcast.
        # +1 r14: the chunk fan-out _spread-fans out of the under-split
        # bench scan (no-op at scale; 3.0 -> 1.8 s at sf0.1)
        "curate_boilerplate_strip": 4,
        # corpus-scaling: bucket-count agg + doc-keyed score agg; plus the
        # target's bucket agg and two single-partition totals windows over
        # the ≤4096-row (parameter-bounded) count tables
        "curate_dsir_select": 5,
        # the pinned lineage holds the one md5-key range partition; rank
        # offsets are a #partitions-row driver pass (same as token_budget)
        "curate_shard_shuffle": 0,
        # one vocabulary-keyed partial agg + the 1-row set-size agg;
        # ranking is a TakeOrdered
        "search_significant_terms": 2,
        # source tf, matched-term df, doc-keyed score aggs + tiny totals;
        # query terms ride as a ≤10-row broadcast
        "search_more_like_this": 5,
        # (matched doc, query) partial agg; stored queries broadcast.
        # the second exchange is the need-count join's tiny side
        "search_percolate": 2,
        # in-scan string expressions + TakeOrdered only
        "search_highlight": 0,
        # final assignment is a zero-exchange projection against the
        # broadcast-literal refined centroids (the per-iteration
        # (cluster, dim) agg runs eagerly during centroid training)
        "sim_kmeans_refine": 0,
        # r14: distances on same-label pairs only — the (batch, label)
        # pair join (2 exchanges), the anchor-keyed final join's agg, and
        # the batch-grained negative-count joins; all batch/anchor-
        # bounded, and the quadratic fold now runs on the same-label
        # fraction alone (6.1 -> 1.5 s at sf0.1)
        "sim_contrastive_batches": 5,
        # per-token md5 coin inside the scan — pure projection
        "curate_word_dropout": 0,
        # visible plan is post-checkpoint (prefix_sum pins the lineage);
        # the eager stages cost: fp dedup agg, dirty-id distinct, anti
        # join, one range partition — all asserted green at 100x
        "corpus_pipeline_e2e": 0,
        # ONE user-partitioned window feeds lag + running sum + the
        # (user, session) agg — same shuffle key end to end
        "events_sessionize": 1,
        # daily partial agg + the per-series applyInPandas exchange
        "ts_ses_smooth": 2,
        # 4-batch replay: each batch pays percolate's 2 exchanges — in
        # real streaming each micro-batch is its own tiny job, so the
        # unioned plan's 8 are never co-resident
        "st_percolate": 8,
        # (column, value) partial agg + the per-column window/rollup over
        # the tiny count table — the input is scanned ONCE
        "prof_column_entropy": 2,
        # position-key trick: broadcast slot list; (doc,start) partial
        # agg + per-doc partial agg; ranking is a TakeOrdered
        "search_match_phrase": 2,
        # ONE domain-keyed window over the (id, domain, n_chars)
        # projection — text never shuffles
        "curate_domain_cap": 1,
        # ONE event_type exchange: both medians are unbounded windows
        # over the same partitioning the final groupBy reuses
        "ts_mad_outliers": 1,
        # pure per-row codegen expressions — zero exchanges
        "sim_int8_quantize": 0,
        # ONE hash-keyed presence agg; the k-min cut is a TakeOrdered
        # and the 1-row estimate agg is driver-sized
        "corpus_overlap_kmv": 1,
        # v0 vs latest full-outer: one key exchange per side; the DML
        # rewrites run eagerly at table-build time
        "lake_snapshot_diff": 2,
        # visible plan is the post-localCheckpoint top-k (the per-round
        # join+agg exchanges run eagerly, one pair per iteration)
        "graph_pagerank_events": 0,
        # ONE fp-keyed window over (id, fp); the split is a projection
        "curate_split_dedup_aware": 1,
        # per-order count agg + the key join (1-row moment agg merges
        # map-side; AQE broadcasts the smaller side at oracle SFs)
        "prof_value_correlation": 2,
        # result is a 3-row driver literal; each round's pair-count agg
        # runs eagerly at build time (one corpus pass per merge round)
        "nlp_bpe_merges": 0,
        # ONE vocabulary df agg; length-banded levenshtein + TakeOrdered
        "search_suggest": 1,
        # 1-row decile-edge agg (broadcast back), ONE bucket partial agg,
        # totals as a window on the ≤10-row count table
        "prof_drift_psi": 3,
        # one user-keyed window + path partial agg; TakeOrdered cut
        "events_path_mining": 2,
        # the blocked candidate stream's own exchanges (same machinery
        # as dedup_ngram_jaccard_portable, budget 10) + ONE band
        # partial-agg over the ≤8-row histogram
        "dedup_threshold_sweep": 11,
        # broadcast queries; ONE vote partial agg reused by the rank
        "sim_knn_classify": 1,
        # result is a 6-row driver literal; each pass's pair-count agg
        # runs eagerly at build time (one corpus pass per BATCH)
        "nlp_bpe_merges_batched": 0,
        # training runs eagerly at build; the returned plan is one
        # 6-replace projection + explode + the count_distinct pair
        # ((token, doc) partial agg, then token-keyed final), plus the
        # _spread round-robin exchange (r14: fan the CPU-bound apply
        # projection out of an under-split scan; no-op ≥ cores tasks)
        "nlp_bpe_apply": 3,
        # training eager at build; ONE lang partial agg on the applied
        # projection (before/after sizes inside the scan) + the _spread
        # exchange (r14, same rationale as nlp_bpe_apply)
        "nlp_bpe_fertility": 2,
        # keep_best's fingerprint exchange + the <=|sizes|-row histogram
        "dedup_cluster_histogram": 2,
        # (gram, doc)-distinct df agg, shared-gram join back, per-doc
        # interval-merge window, island agg; +1 r14: positional_grams
        # _spread-fans the gram stage out of the under-split bench scan
        # (no-op at scale)
        "dedup_verbatim_spans": 7,
        # state computed eagerly at build (one corpus exchange); the
        # returned frame is a |langs|-row driver literal
        "curate_mixture_waterfill": 0,
        # perceptron training runs eagerly at build (feats persisted,
        # per-iter: one broadcast-w join + doc agg + bucket agg); the
        # returned frame is the ≤(buckets+1)-row weight literal
        "nlp_train_quality_classifier": 0,
        # feature (doc,bucket) agg + doc-keyed margin agg + the docs
        # left-join back; the weight table joins as a broadcast
        "nlp_classifier_score": 3,
        # the scored⋈labels join persists between the min/max action and
        # the sum pass (one corpus scoring execution total — the review
        # fix); formatted_plan then counts the CACHED subtree's
        # exchanges (feature agg, margin agg, join) alongside the main
        # plan's single-row 36-sum aggregate, so the static number rose
        # 4 → 7 while the executed-per-run count FELL (the cache fills
        # once; pre-fix both actions re-ran the 4-exchange subtree)
        "nlp_classifier_curve": 7,
        # score plan + one lang-keyed confusion agg
        "nlp_classifier_bias_audit": 4,
        # benchmark gram set broadcasts (LEFT SEMI); the bench-side
        # distinct + the per-doc interval-merge window are the only
        # corpus-scaling exchanges — NO corpus gram-df aggregate
        # (cross-corpus is lighter than within-corpus span dedup).
        # +2 r14: positional_grams _spread-fans BOTH sides out of the
        # under-split bench scan (no-op repartitions at scale; 3.2 ->
        # 1.3 s at sf0.1)
        "curate_decontaminate_spans": 4,
    }
    for name, budget in budgets.items():
        n = shuffle_count(QUERIES[name](spark, sf_dir))
        assert n <= budget, f"{name}: {n} shuffles > budget {budget}"


def test_lattice_prep_not_reinlined_per_pair(spark, sf_dir):
    """The lattice quantization (interpreted transform + int folds) must
    evaluate per VECTOR, never per candidate pair: without the prep
    cache boundary, column pruning re-inlined the whole expression tree
    into the pair joins (96 transform nodes, a 4.5× verify slowdown on
    the 100× bucketed dedup). Pin a ceiling on higher-order-expression
    occurrences in the physical plans so the regression cannot return
    silently."""
    from data_engineering_spark.operators.similarity import (
        cosine_near_pairs,
        embedding_near_dedup,
        embedding_near_dedup_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # measured post-fix: bucketed 24/12, exact 10/13, pairs 4/6 — the
    # ceilings leave headroom for planner drift but sit far under the
    # 96/56 the re-inlining produced
    for name, df, cap in [
        ("bucketed", embedding_near_dedup_bucketed(emb, threshold=0.9, dim=64), 40),
        ("exact", embedding_near_dedup(emb, threshold=0.4), 40),
        ("pairs", cosine_near_pairs(emb, threshold=0.4), 30),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = plan.count("transform(") + plan.count("aggregate(")
        assert n <= cap, f"{name}: {n} higher-order expression nodes > {cap}"


def test_inverted_index_postings_are_block_bounded(spark, sf_dir):
    """The r5 verdict's one scale defect: a posting-list collect grouped
    by token alone is an unbounded hot-key aggregate (a stop-word token
    collects corpus-proportional state into ONE group). Every
    collect_list in the plan must therefore group by (token, block) —
    two keys — never token alone."""
    from data_engineering_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["search_inverted_index"](spark, sf_dir))
    keys = None
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Keys"):
            keys = s
        if "collect_list" in s:
            assert keys is not None and keys.startswith("Keys [2]"), (
                f"posting collect grouped by {keys} — must be (token, block)\n{plan}"
            )


def test_partition_pruning_reads_one_partition(spark, sf_dir, tmp_path):
    """A date-partition filter must prune at the source: the scan's
    PartitionFilters carry the predicate and only the matching
    partition's files are read (SURVEY §4 — the reference's string-date
    filters defeat this; our writers partition by the real column)."""
    from data_engineering_spark.sources.writers import partition_overwrite

    table = str(tmp_path / "pruned")
    base = load_table(spark, sf_dir, "orders").limit(100)
    for d in ("20240110", "20240111", "20240112"):
        partition_overwrite(base.withColumn("bkup_dt", F.lit(d)), table, "bkup_dt")
    df = spark.read.parquet(table).filter(F.col("bkup_dt") == "20240111")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "20240111" in plan
    # pruning proof: only one partition's rows come back, and the scan's
    # partition count in the executed plan is 1
    assert df.count() == 100
    assert df.select("bkup_dt").distinct().collect()[0][0] == "20240111"


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark, sf_dir):
    """At warehouse scale a selective dim-side filter should seed a
    runtime bloom filter that prunes the fact scan before the shuffle
    (Spark's runtime.bloomFilter — OFF by default in our session since
    r14 because it misfires on cached batch-sized relations, but
    re-enablable for a cluster profile via SPARK_GRAFT_RUNTIME_BLOOM).
    The size thresholds that gate it never trip at test SF, so this test
    emulates that cluster profile by enabling injection and lowering the
    thresholds — asserting our declarative plans stay injection-eligible
    (a hand-rolled pre-shuffle or UDF filter would silently forfeit
    this)."""
    old = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": None,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in old:
        old[k] = spark.conf.get(k)
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join split is the automatic complement to the manual
    salting in j9_salted_join: a hot key's oversized partition is split
    into parallel subtasks at runtime. Size gates never trip at test SF,
    so they're lowered to emulate a hot partition; the assertion reads
    the ADAPTIVE executed plan (skew handling never appears statically)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # the downstream agg means splitting adds a shuffle; at real
        # scale the skewed partition dwarfs that cost
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(500_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.rand(7).alias("payload"),
        )
        right = spark.range(1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k").select(F.sum("v").alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_bucketed_layout_queries_plan_zero_exchanges(spark, sf_dir):
    """End-to-end: under catalog.bucketed_layout the registered Q3/Q18
    plans contain NO hash Exchange (every join/groupBy keys on the bucket
    key), and flagship keeps only its o_custkey rollup shuffle — the
    layout, not the query, pays the network cost."""
    from data_engineering_spark.catalog import bucketed_layout

    with bucketed_layout(spark, sf_dir, n_buckets=8):
        for name, budget in (
            ("tpch_q3_shipping_priority", 0),
            ("tpch_q18_large_orders", 0),
            ("flagship_serving_index", 1),
        ):
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            n = plan.count("Exchange hashpartitioning")
            assert n <= budget, f"{name}: {n} exchanges > {budget}"
            assert df.count() > 0
    # overrides cleaned up: plain reads come back
    assert QUERIES["tpch_q3_shipping_priority"](spark, sf_dir).count() > 0


def test_bpe_realvocab_query_is_zero_shuffle_literal(spark, tmp_path):
    """nlp_bpe_vocab_16x64's returned frame must be a driver literal
    (budget 0, same contract as nlp_bpe_merges_batched): training runs
    eagerly at build time, one corpus pass per batch. Asserted on a
    corpus that fully merges after one pass so the 16-pass trainer
    breaks early instead of costing the suite the 41 s real-vocab run."""
    from data_engineering_spark.plans.explain import shuffle_count

    docs = spark.createDataFrame(
        [(1, "a b", "en", "s"), (2, "a b", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    sf_dir = str(tmp_path / "tiny")
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = QUERIES["nlp_bpe_vocab_16x64"](spark, sf_dir)
    assert shuffle_count(out) == 0
    rows = out.collect()
    assert [(r.pass_no, r.merge_rank, r.merged) for r in rows] == [(1, 1, "a_b")]


def test_runtime_bloom_filter_prunes_fact_scan_at_scale(spark, sf_dir):
    """100 TB plan evidence: Spark's runtime bloom-filter join pruning
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`, default true) is
    gated on the APPLICATION side scanning ≥ 10 GB — never true at test
    SFs, always true for a fact table at the design point. Model the
    at-scale condition by zeroing the scan-size threshold and assert
    Spark injects `might_contain(bloom_filter_agg(dim keys))` into the
    fact-side scan FILTER: every selective dim⋈fact join in this repo
    gets runtime semi-join reduction for free on a real cluster —
    shuffle only the fact rows that can match — with no code changes.
    Also assert the pruned plan returns the identical result."""
    from pyspark.sql import functions as F

    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.plans.explain import formatted_plan

    def shape():
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.round(F.sum("l_quantity"), 2).alias("q"))
        )

    baseline = {(r.o_orderpriority, r.q) for r in shape().collect()}
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_bloom = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    try:
        # broadcast off: give the bloom filter a shuffle join to prune
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the session default is now OFF (r14: the automatic injection
        # misfires on cached batch-sized relations — see session.py);
        # this test models the CLUSTER profile, so it opts in explicitly
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        plan = formatted_plan(shape())
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
        assert baseline == {(r.o_orderpriority, r.q) for r in shape().collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", old_bloom)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_cosine_topk_scores_in_one_arrow_kernel(spark, sf_dir):
    """cosine_topk scores every (query, corpus row) pair inside one Arrow
    kernel per corpus batch: the executed plan has no nested-loop or
    cartesian join and no higher-order fold evaluated per pair."""
    from data_engineering_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct", "aggregate(", "zip_with("):
        assert node not in plan, f"{node} in\n{plan}"
