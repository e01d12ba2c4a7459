"""Registry-shape pins: the driver's correctness gate records only the
first 50 queries alphabetically, so the primary window must stay EXACTLY
50 (a 51st primary silently evicts the alphabetically-last one from the
gate) and every SURVEY §2.2 capability category must keep at least one
primary representative (round-3 verdict task 8)."""

import inspect

from pypgcdc_spark.queries import EXTENDED, REGISTRY, ensure_registered

ensure_registered()

PRIMARY = {n for n in REGISTRY if n not in EXTENDED}

# §2.2 capability categories → primary representatives.  A new primary
# query must join one of these families (or add a new family here); a
# demotion to EXTENDED must leave the family non-empty.
CATEGORY_REPRESENTATIVES = {
    "scans_sources": {"q1_pricing_summary", "multimodal_decode_stats"},
    "source_retention": {"source_segmented_retention"},
    "joins": {"q9_profit_by_nation_year", "q21_sole_late_supplier"},
    "semi_anti_join": {"join_semi_active_suppliers"},
    "full_outer_join": {"join_full_outer_order_coverage"},
    "range_asof_join": {"asof_join_purchase_last_click"},
    "aggregation": {"q1_pricing_summary"},
    "distinct_approx": {"approx_distinct_and_quantiles"},
    "grouping_sets_cube_rollup": {"agg_grouping_sets"},
    "window_functions": {"win_lag_event_deltas", "win_topk_orders_per_segment"},
    "sort_limit_topk": {"sort_topk_global"},
    "set_ops": {"setop_union_intersect_except"},
    "scalar_functions": {"scalar_json_extraction", "higher_order_functions"},
    "pivot_unpivot": {"agg_conditional_pivot_status"},
    "subqueries": {"subq_in_top_nations"},
    "streaming_windows": {
        "stream_session_window",
        "stream_time_rollup",
        "stream_dedup_watermark",
    },
    "stateful_streaming": {"stream_stateful_running_stats"},
    "stream_stream_join": {"stream_stream_join"},
    "cdc": {"cdc_apply_current_state", "cdc_incremental_view"},
    "udf_pandas": {"pandas_udf_value_cents"},
    "udaf": {"udaf_segment_balance_stats"},
    "udtf": {"udtf_shingle_expand"},
    "dedup_exact": {"dedup_exact"},
    "dedup_near": {"dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"},
    "dedup_embedding": {"dedup_embedding_cosine"},
    "dedup_clusters": {"dedup_connected_components"},
    "ann_similarity": {"ann_topk_bruteforce", "ann_lsh_bucketed", "ann_ivf_flat"},
    "ml_interop": {"ml_minhash_lsh_jaccard_pairs"},
    "multimodal": {"multimodal_decode_stats"},
    "text_analysis": {
        "text_quality_score",
        "text_token_stats",
        "text_langid_confusion",
        "text_fingerprint",
        "text_pii_scrub",
        "text_duplicate_spans",
    },
    "pipeline_curation": {
        "pipeline_decontamination",
        "pipeline_domain_mix",
        "pipeline_deterministic_sample",
        "pipeline_sequence_packing",
        "pipeline_corpus_curation",
    },
}


def test_primary_window_is_exactly_50():
    assert len(PRIMARY) == 50, (
        f"primary window must stay exactly 50 (driver gate size); got "
        f"{len(PRIMARY)} — consciously demote to EXTENDED or displace"
    )


def test_every_category_keeps_a_primary_representative():
    for cat, reps in CATEGORY_REPRESENTATIVES.items():
        assert reps & PRIMARY, f"category {cat} lost all primary representatives"
        missing = reps - set(REGISTRY)
        assert not missing, f"category {cat} names unknown queries {missing}"


def test_extended_names_all_registered():
    unknown = EXTENDED - set(REGISTRY)
    assert not unknown, f"EXTENDED references unregistered queries: {unknown}"


def test_every_entry_takes_spark_and_sf_dir():
    # A helper decorated by mistake takes the registry entry and still
    # passes the pins above; the driver calls every entry as fn(spark, sf_dir).
    for name, q in REGISTRY.items():
        params = list(inspect.signature(q.fn).parameters.values())
        assert [p.name for p in params[:2]] == ["spark", "sf_dir"], (
            f"{name} is bound to {q.fn.__qualname__}{inspect.signature(q.fn)}"
        )
        required = [p.name for p in params[2:] if p.default is inspect.Parameter.empty]
        assert not required, f"{name} takes extra parameters without defaults: {required}"
