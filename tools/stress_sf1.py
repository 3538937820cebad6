"""sf1 scaling check: time the 30 tutorial queries and a fixed list of
extension queries at sf0.1 and at the 10x-replicated sf1 fixture
(tools/gen_sf1.py), print one table of per-query best-of-2 wall times
and the sf1/sf0.1 ratio, then run two post-checks:

- the bounded-dimension joins of q14 and q23 keep ``BroadcastHashJoin``
  at sf1 (AQE must not flip the region/nation joins to sort-merge as
  the fact side grows);
- MinHash-LSH keeps recall 1 at sf1. Replica 0 of the fixture is the
  base corpus verbatim, so LSH at sf1 restricted to base-id pairs must
  equal the exact all-pairs Jaccard result on the base corpus. A
  missed pair is a recall loss; an extra pair is a verification bug
  (candidates are exact-verified, so precision is 1 by construction).

A ratio <= ~10 is linear (10x the rows); well under 10 means fixed
per-query overhead still dominates at sf1. Timing goes through
``bench.time_query``, whose checksum action (unlike ``count()``) keeps
Catalyst from pruning projections or left-join-eliminating whole
subtrees. Usage:
    python tools/gen_sf1.py .stress/sf1   # once
    python tools/stress_sf1.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("STRESS_SF1_DIR", ".stress/sf1")
# smallest fixture, used only to warm codegen/Arrow workers before timing
SF_WARM = os.environ.get("STRESS_WARM_DIR", "/root/testdata/sf0.001")

# Extension families whose scaling was checked round by round (dedup,
# similarity search, Bloom decontamination, sketches, decision-support
# shapes, ...); text_token_stats and corpus_split are scan-bound anchors
# whose ratio is close to the raw IO ratio.
EXT_NAMES = [
    "text_token_stats", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_lsh", "dedup_clusters_lsh", "similarity_topk_q8",
    "decontaminate_bloom", "corpus_kmv_vocab", "corpus_split",
    "corpus_shuffle", "text_quality_score", "corpus_curate", "ann_pq_topk",
    "corpus_lm_score", "events_funnel", "corpus_chunk", "corpus_domain_cap",
    "events_props_stats", "events_retention", "embedding_cluster_assign",
    "events_anomaly", "embedding_label_centroids", "text_entropy",
    "events_salted_agg", "audit_referential", "corpus_diff",
    "corpus_cooccurrence", "events_moving_avg", "corpus_summary",
    "events_top_paths", "corpus_cms_counts", "dedup_containment",
    "layout_zorder", "corpus_novelty", "corpus_mix_temperature",
    "events_histogram", "graph_pagerank", "embedding_covariance",
    "embedding_outliers", "customer_rfm", "orders_basket", "events_markov",
    "corpus_clean", "hybrid_search", "mm_frame_dedup", "sample_weighted",
    "events_attribution", "events_scd2", "orders_fulfillment",
    "events_active_users", "events_hll_users", "orders_top_customers",
    "orders_pareto", "events_sessions", "lineitem_pricing_summary",
    "corpus_bpe_merges", "profile_orders", "events_decay",
    "dedup_levenshtein", "orders_shipping_priority", "corpus_index",
    "corpus_bpe_encode", "orders_count_distribution",
    "lineitem_revenue_delta", "corpus_drift", "embedding_matryoshka",
    "orders_winsorized", "privacy_k_anonymity", "events_seasonal_baseline",
    "graph_label_prop", "events_multitouch", "events_incremental_rollup",
    "lineitem_correlations", "events_ab_test", "orders_cohort_ltv",
    "mm_audio_windows", "orders_returned_revenue", "orders_large_volume",
    "events_gap_fill", "orders_backlog", "orders_equidepth_bins",
    "customer_spend_ranks", "audit_benford", "embedding_pca_power",
    "embedding_pca_project", "lineitem_elasticity", "text_lang_confusion",
    "corpus_zipf", "supplier_top_revenue", "customer_rich_inactive",
    "part_promo_share", "nation_trade_flows", "part_band_revenue",
    "orders_priority_check", "nation_local_volume", "nation_market_share",
    "supplier_profit", "orders_ship_lag", "part_small_lots",
    "supplier_sole_late", "events_conversion_lag", "privacy_delete_impact",
    "dedup_minhash_eval", "corpus_search", "embedding_kmeans",
    "events_hopping_window", "orders_key_skew", "part_min_cost_supplier",
    "supplier_part_counts", "ann_recall_eval", "text_readability",
    "orders_reorder_intervals", "events_tombstone_state",
    "events_value_quantiles", "privacy_dp_counts",
    "supplier_dominant_parts", "lineitem_yoy_growth", "nation_rank_movers",
    "embedding_cos_histogram", "events_slo_burn", "dedup_graph_degrees",
    "supplier_lead_time", "events_bot_flags", "nation_revenue_hhi",
    "corpus_yield_curve", "corpus_heaps", "events_behavior_entropy",
    "dedup_savings_report", "graph_triangles", "privacy_l_diversity",
    "corpus_feature_hash", "events_concurrency", "graph_clustering_coef",
    "dedup_source_matrix", "events_twa", "customer_survival", "graph_kcore",
    "events_cusum", "privacy_generalization", "events_power_analysis",
    "embedding_threshold_sweep", "asof_click_next_purchase",
    "events_rolling_actives", "privacy_t_closeness", "text_code_detect",
    "embedding_centroid_drift", "events_audience_overlap",
    "dedup_shingle_sweep", "events_seasonal_profile",
    "text_simhash_histogram", "corpus_fertility",
    "embedding_centroid_confusion", "dedup_token_savings", "events_ab_srm",
    "events_new_vs_returning", "supplier_single_source",
    "graph_assortativity", "part_price_dispersion", "corpus_length_drift",
]


def best_of(spark, qs, names, sf_dir: str, passes: int = 2) -> dict[str, float]:
    best: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            secs = time_query(spark, qs[name], sf_dir)[0]
            best[name] = min(best.get(name, secs), secs)
    return best


def check_broadcasts(spark, qs) -> None:
    from ksql_query_tutorial_spark.plans.checks import formatted_plan

    for q in ("q14_inner_join", "q23_revenue_by_region"):
        plan = formatted_plan(qs[q](spark, SF1))
        if "BroadcastHashJoin" not in plan:
            raise SystemExit(f"{q} lost its broadcast at sf1:\n{plan}")
    print("broadcast check: q14/q23 keep BroadcastHashJoin at sf1")


def check_lsh_recall(spark, qs) -> None:
    from pyspark.sql import functions as F

    from ksql_query_tutorial_spark.tables import load

    doc_base = load(spark, SF01, "documents").agg(F.max("doc_id")).collect()[0][0] + 1
    lsh_sf1 = {
        (r.id_a, r.id_b)
        for r in qs["dedup_minhash_lsh"](spark, SF1)
        .filter((F.col("id_a") < doc_base) & (F.col("id_b") < doc_base))
        .collect()
    }
    exact_base = {(r.id_a, r.id_b) for r in qs["dedup_ngram_jaccard"](spark, SF01).collect()}
    missed, extra = exact_base - lsh_sf1, lsh_sf1 - exact_base
    if missed or extra:
        raise SystemExit(f"LSH @ sf1 base-id pairs: missed {sorted(missed)[:10]}, "
                         f"extra {sorted(extra)[:10]}")
    print(f"recall check: LSH@sf1 base-id pairs == exact base pairs "
          f"({len(exact_base)} pairs, recall 1.0)")


def main() -> None:
    from ksql_query_tutorial_spark.queries import TUTORIAL_QUERIES
    from ksql_query_tutorial_spark.session import get_spark
    import __spark_entry__ as em

    spark = get_spark("stress-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    names = sorted(TUTORIAL_QUERIES) + EXT_NAMES
    warm(spark, qs, names, SF1, SF_WARM)
    t01 = best_of(spark, qs, names, SF01)
    t1 = best_of(spark, qs, names, SF1)

    ratio = {n: t1[n] / max(t01[n], 1e-9) for n in names}
    print(f"\n{'query':32s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>7s}")
    for name in names:
        print(f"{name:32s} {t01[name]:8.3f} {t1[name]:8.3f} {ratio[name]:7.2f}")
    tot01, tot1 = sum(t01.values()), sum(t1.values())
    print(f"{'TOTAL':32s} {tot01:8.3f} {tot1:8.3f} {tot1 / tot01:7.2f}")
    worst = max(names, key=ratio.get)
    print(f"worst per-query ratio: {ratio[worst]:.2f} ({worst}; linear = 10)")

    check_broadcasts(spark, qs)
    check_lsh_recall(spark, qs)
    spark.stop()


if __name__ == "__main__":
    main()
