"""Dump formatted physical plans of registered queries.

Evidence artifact: shows pushed filters, pruned schemas, broadcast vs
shuffle joins, and whole-stage codegen spans per query so plan quality is
reviewable without running Spark.

Usage:
    python tools/dump_plans.py [--sf-dir DIR] [--out-dir DIR] [name ...]

``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``. Names default to the
headline set below. Without ``--out-dir`` the default set regenerates
``PLANS.md`` at the repo root and explicitly named plans print to stdout;
with it, each plan lands in ``<out-dir>/<name>.txt`` (dump a tree before
and after a change into two dirs and diff them).

Besides registered queries, names may pick internal frames whose plans
a registered query hides behind a checkpoint scan: ``minhash_signatures``,
``simhash_frame``, ``ngram_pairs_lazy`` (the posting self-join of
``ngram_jaccard_pairs`` at its registered parameters) and
``minhash_index_query`` (``MinHashIndex.query`` over a throwaway index).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from contextlib import ExitStack

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = (
    "pricing_summary",
    "region_revenue",
    "shipping_priority_top10",
    "semi_join_inlist",
    "window_topk_per_group",
    "events_sessionize",
    "exact_dup_groups",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "cosine_topk",
    "ann_ivf_topk",
    "asof_latest_order_per_event",
    "dedup_components",
    "tfidf_top_terms",
    "train_test_split",
    "dup_ngram_spans",
    "dup_span_coverage",
    "source_capped_sample",
    "corpus_mixture_weights",
    "embedding_dup_pairs",
    "pack_documents_by_lang",
    "range_join_price_bands",
    "hypertable_rollup_daily",
    "scd2_snapshot_apply",
    "table_profile_customer",
    "embedding_quantization_error",
    # r4 additions
    "simhash_pairs",
    "dedup_components_star",
    "media_image_meta",
    "media_resize_plan",
    "media_audio_meta",
    # r5 additions (media_streaming_meta_rollup is a streaming sink —
    # its batch plan shape is media_image_meta's)
    "media_video_meta",
    "doc_lexical_diversity",
    "embedding_label_cohesion",
    "source_quality_rollup",
    "join_skew_report",
    # r6 additions (lock_fallback_naming / sql_compose_quoting /
    # settings_validation_outcomes are literal-frame manifests — no plan
    # worth dumping)
    "ann_ivf_mllib_topk",
    # late-r6 batch 3
    "dq_check_suite",
    "fuzzy_part_pairs",
    "doc_unigram_surprisal",
    "weighted_sample_orders",
    "zorder_layout_sample",
    "cohort_retention_weekly",
    "event_transition_matrix",
    "attribution_last_touch",
    "snapshot_diff_cdc",
    "incremental_agg_maintenance",
    "stats_chi_square_lang_source",
    "stats_linear_fit_price_qty",
    "stats_correlation_matrix",
    "join_cardinality_estimate",
    "media_ahash_neardup",
    # late-r6 batch 4 (embedding_pca_variance assembles driver-side — no
    # distributed plan worth dumping beyond its mapInPandas pass)
    "events_seasonal_anomalies",
    "returned_item_report",
    "customers_without_orders",
    "hll_set_overlap",
    # batch-6 continuation session (pagerank/bfs/settings_datasource run
    # eagerly or loop driver-side plan-per-round — the per-round plan is
    # the dedup_components shape; bpe_encode trains first)
    "json_payload_profile",
    "json_kv_explode",
    "variant_payload_extract",
    "assoc_rules_pairs",
    "heavy_hitters_phi",
    "ngram_containment_pairs",
    "unicode_nfc_normalize",
    "golden_record_survivorship",
    "multiset_ops",
    "embedding_dim_stats",
    "benford_first_digit",
    "events_ewma_smoothing",
    "nation_volume_shipping",
    "large_volume_customers",
    "disjunctive_predicate_revenue",
    "partition_pruned_read",
    # batch 7-8 (pagerank variants / exif / observe / datasource run
    # eagerly or loop — per-round plan shapes covered by their docs)
    # r7 additions
    "fuzzy_join_enrichment",
    "cuped_ab_report",
    "set_similarity_join_pairs",
    "late_supplier_blame_report",
    "global_outlier_customers",
    "cdc_apply_roundtrip",
    "null_semantics_battery",
    "nested_orders_rollup",
    "sql_defined_functions",
    "datetime_functions_breadth",
    "aggregate_functions_breadth",
    "regexp_functions_breadth",
    "source_score_quantile_norm",
    "kfold_assignment",
    "pivot_multi_agg",
    "forecast_revenue_change",
    "collation_ci_matching",
    "ansi_safe_arithmetic",
    "calendar_dim_spine",
    "map_functions_breadth",
    "grouped_minmax_scaling",
    "grouped_agg_pandas_udf",
    # r7 continuation session (streaming-dedup-wm and sequential
    # patterns run eagerly / via ML fit — shapes covered by their docs)
    "survival_curve_users",
    "rfm_segmentation",
    "winsorized_price_stats",
    "jaro_winkler_part_pairs",
    "doc_bigram_surprisal",
    "dsir_importance_weights",
    "gopher_rule_filter",
    "psi_drift_orders",
    "events_acf_daily",
    "seasonal_decompose_daily",
    "embedding_quantization_report",
    "count_min_partkey",
    "corpus_datacard",
    "vocab_coverage_report",
    "csv_permissive_quarantine",
    "copurchase_triangles",
    "pareto_abc_parts",
    "attribution_time_decay",
    "hilbert_layout_sample",
    "asof_nearest_purchase_per_event",
    # r12 additions: the FFD packer (one two-long-per-doc shuffle into
    # grouped applyInPandas), the MLlib classifier transform (broadcast
    # coefficients, narrow map), and the sniff-and-dispatch catalog
    # (one mapInPandas over the mixed corpus)
    "sequence_packing_ffd",
    "quality_classifier_predictions",
    "media_sniff_catalog",
    # r13 additions: the crawl stack — URL hygiene and the fetch
    # schedule are pure Catalyst (codegen spans reviewable), robots is
    # join + max_by (no window), pdf/link/sitemap lanes are one Arrow
    # kernel each over binaryFile or synth frames. The two e2e
    # compositions write fixture files eagerly but their PLANS are lazy
    # and worth reviewing.
    "url_normalize_dedup",
    "robots_url_filter",
    "crawl_fetch_schedule",
    "pdf_text_extract",
    "pdf15_text_extract",
    # r14 additions
    "pdf_unicode_text_extract",
    "url_percent_normalize",
    "crawl_delay_schedule",
    "paragraph_dedup_ccnet",
    # r15 additions: the PDF filter/decrypt lanes share
    # pdf_text_extract's plan shape (one Arrow pass), so the new
    # plans worth reviewing are the crawl-index lane (pure Catalyst
    # text scan + pruned from_json + SURT projection), the
    # delta-ingest composition, and host-level PageRank
    "cdx_index_catalog",
    "cdx_fetch_plan_ranges",
    "cdx_cluster_lookup",
    "crawl_delta_ingest_e2e",
    "host_pagerank_crawl",
)


def _internal_frames(spark, sf_dir: str, stack: ExitStack) -> dict:
    """name → thunk building a lazy internal frame."""
    from etl_excel_csv_sql_spark.operators import dedup

    def docs():
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def corpus():
        ids = docs().select("doc_id")
        return dedup.synth_shingle_docs(ids).unionByName(
            dedup.synth_shingle_docs(ids, id_offset=1_000_000, twin=True)
        )

    def ngram_pairs_lazy():
        d = docs()
        postings = dedup.shingle_postings(d, "doc_id", "text", n=3, max_df=100)
        return dedup.ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.12, max_df=100,
            postings=postings,
        )

    def minhash_index_query():
        # tiny index: the plan shape is size-independent
        tmp = stack.enter_context(tempfile.TemporaryDirectory())
        idx = dedup.MinHashIndex(os.path.join(tmp, "idx"))
        idx.build(corpus().limit(200), "doc_id", "text")
        return idx.query(corpus().limit(50), "doc_id", "text", threshold=0.5)

    return {
        "minhash_signatures": lambda: dedup.minhash_signatures(
            corpus(), "doc_id", "text", 32, 3
        ),
        "simhash_frame": lambda: dedup.simhash_frame(corpus(), "doc_id", "text", 3),
        "ngram_pairs_lazy": ngram_pairs_lazy,
        "minhash_index_query": minhash_index_query,
    }


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries or internal frames")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--out-dir", help="write <name>.txt per plan here")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir is required when $SPARK_GRAFT_SF_DIR is unset")
    names = args.names or list(QUERIES)

    from etl_excel_csv_sql_spark.plans.registry import _REGISTRY
    from etl_excel_csv_sql_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    with ExitStack() as stack:
        internal = _internal_frames(spark, args.sf_dir, stack)
        unknown = [n for n in names if n not in _REGISTRY and n not in internal]
        if unknown:
            ap.error(f"unknown names: {', '.join(unknown)}")
        plans = {}
        for name in names:
            if name in internal:
                plans[name] = ("", explain_str(internal[name]()))
            else:
                spec = _REGISTRY[name]
                plans[name] = (spec.doc, explain_str(spec.fn(spark, args.sf_dir)))

    if args.out_dir:
        os.makedirs(args.out_dir, exist_ok=True)
        for name, (_, plan) in plans.items():
            with open(os.path.join(args.out_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        print(f"wrote {len(plans)} plans to {args.out_dir}", file=sys.stderr)
        return 0
    if args.names:
        for name, (_, plan) in plans.items():
            print(f"== {name} ==\n{plan.rstrip()}\n")
        return 0
    out = [
        "# Physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale dir: `{os.path.basename(os.path.normpath(args.sf_dir))}`. "
        "`PushedFilters`/`ReadSchema` show scan "
        "pushdown; `BroadcastHashJoin`/`SortMergeJoin` the join strategy; "
        "`WholeStageCodegen` the fused JVM spans.",
        "",
    ]
    for name, (doc, plan) in plans.items():
        out.append(f"## {name}\n\n{doc}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(plans)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
