"""Regenerate PLANS.md: formatted physical plans of headline queries with
the scale-relevant properties annotated, or print the plans of named
queries.

Run: python scripts/dump_plans.py            # rewrite PLANS.md (sf0.001 shapes)
     python scripts/dump_plans.py NAME ...   # print each NAME's formatted plan
                                             # at $SPARK_GRAFT_SF_DIR (default:
                                             # the PLANS.md data)

Printed plans are normalized (``normalize``): expression ids, exchange
plan ids and RDD ids with their call sites become fixed tokens, so the
output of two checkouts diffs directly.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from sentiment_analysis_vector_search_spark.plans import plan_str
from sentiment_analysis_vector_search_spark.session import get_spark

SHOW = [
    ("q1_pricing_summary", "partial agg before tiny 6-group shuffle; pushdown"),
    ("q3_shipping_priority", "broadcast customer dim; filtered facts shuffle once"),
    ("q10_returned_items", "TakeOrderedAndProject top-k; returnflag pushed to scan"),
    ("q_events_asof_attribution", "single user_id shuffle; sorted window as-of"),
    ("dedup_minhash_lsh", "band-bucket equi-join candidates; no cartesian"),
    ("dedup_simhash", "codegen 60-sum signature aggregate; 15-bit band join"),
    ("ann_lsh_topk", "Arrow einsum signatures; scalar-only candidate exchange"),
    ("ann_ivf_topk", "broadcast codebook relation; per-query-partition top-k"),
    ("ann_ivf_trained_topk", "in-engine trained codebook; keyed assignment windows"),
    ("q_nation_segment_pivot", "single-pass pivot with enumerated categories"),
    ("pipeline_curate_stats", "classify→quality→dedup→stats fused in one plan"),
    ("text_gopher_quality", "map-only repetition metrics; zero Exchange at any scale"),
    ("decontaminate_ngrams", "broadcast eval-gram join; corpus spine never shuffled"),
    ("q7_nation_trade", "nation-annotated dims broadcast; one fact-fact shuffle"),
    ("q13_order_count_dist", "LEFT OUTER preserved; double partial-agg"),
    ("q2_min_cost_supplier", "supply agg first; dims broadcast; window min per part"),
    ("q21_waiting_suppliers", "decorrelated EXISTS: ONE lineitem scan, per-order windows"),
    ("q11_important_stock", "global scalar threshold as broadcast single row"),
    ("pack_sequences", "shard-partitioned packing window; no global sort"),
    ("dedup_keep_canonical", "minhash candidates -> components -> canonical; no cartesian"),
    ("chunk_documents", "map-only chunking: scan -> generate, zero Exchange"),
    ("contrastive_pairs", "doc_id-keyed lead window; one keyed shuffle"),
    ("rag_chunk_retrieve", "broadcast 1-row query; TakeOrderedAndProject top-k"),
    ("ann_pq_adc_topk", "broadcast codebook/LUT; min_by encode; decimal ADC sums; bounded rerank"),
    ("cap_per_source", "single source-keyed window shuffle; no join"),
    ("dedup_minhash_quality_audit", "banded candidates; signature lookups; O(10)-row calibration output"),
    ("q_customer_rfm", "one melted grouped range-rank pass (r14); no single-partition ntile window"),
    ("dq_expectations", "one multi-aggregate scan per table; broadcast/keyed anti-join orphans"),
    # r7 additions
    ("q_events_sessions", "two-phase skew-safe: (user, day-chunk) lag windows + day-grain boundary merge"),
    ("train_shuffle_shards", "TeraSort-rank shard assignment over md5 order; no global window"),
    ("sample_epochs", "literal x3 epoch fan-out; map-side hash filter; one partial-agg pass"),
    ("bpe_merge_candidates", "corpus touched once; pair Generate above the vocab aggregate"),
    # r8 additions
    ("q5_local_supplier", "stats-gated dim broadcasts (customer/supplier); one fact-fact shuffle"),
    ("q_events_transitions", "two-phase skew-safe: (user, day-chunk) lag + chunk-boundary merge"),
    ("q_orders_market_basket", "map-side basket pair expansion; TakeOrdered top-k; broadcast count joins"),
    ("q_events_path_trigrams", "width-3 two-phase: chunk windows + <=4-edge-row boundary merge"),
    ("train_curriculum_order", "TeraSort-rank curriculum stages; no global ntile window"),
    ("chat_suggested_questions", "one scalar-aggregate scan; literal list algebra on a single row"),
    # late-r8 additions
    ("rag_hybrid_retrieve", "shared tfidf subtree; broadcast seed posting-list join; RRF over <=2k rows"),
    ("emb_outlier_scores", "broadcast centroids; two-phase salted bottom-K (no data-sized per-label window)"),
    ("chat_history_messages", "(user, day)-grain window, 2-row frame; bounded per-key state"),
    ("decontaminate_exact", "broadcast probe relation; map-side contains scan; doc-grain hit agg"),
    ("bm25_retrieve", "word-keyed posting joins; broadcast df; shared scoring expr with the index"),
    ("tok_bigram_pmi", "one tokenized pass; vocabulary-grain unigram joins; broadcast scalars"),
    # r9 additions
    ("fix_source_name", "pure narrow projection; whole mapping in one codegen stage, zero Exchange"),
    ("q_source_report", "map-side-combined groupBy on a ~#sources-row key"),
    ("q_events_hot_user_join", "MG-measured sentinel skew -> salted join (16-way hot-key spread); decimal rollup"),
    # late-r9 additions
    ("text_bigram_lm_score", "one tokenized pass; Heaps-bounded count joins (shuffled, vocab not broadcast-safe)"),
    ("q_nation_pagerank", "Q7 fact spine once behind lineage cut; 3 node-grain join iterations"),
    ("dedup_winnow", "per-doc window minima; fp-keyed pair join bounded by the boilerplate cap"),
    ("rag_mmr_rerank", "one corpus-sized TakeOrdered pool; greedy picks join 10-row relation"),
    # r10 additions
    ("q_urgent_revenue_semi_reduce", "KMV-chosen broadcast LeftSemi pre-filter; priority pushed to both orders scans"),
    ("q_events_cms_freq", "map-side-combinable dxw sketch (2,048 rows); broadcast point probes"),
    ("bm25_rm3_expand", "checkpointed tf/dl reused across both passes; <=8-word expanded vocab broadcast"),
    # late-r10 additions
    ("q_events_kmv_setops", "two-phase salted bottom-K per set; all estimate math on <=2k retained rows"),
    ("q_part_skyline", "price-grain prefix maxima (bucket + within-bucket windows); no self-join"),
    ("ann_ivf_filtered_topk", "label predicate pushed to parquet scan BELOW the cell assignment"),
    ("dedup_containment", "df-capped shingle pair join; surviving-shingle sizes carried, no size joins"),
    ("er_fuzzy_part_names", "distinct-name grain; block-keyed equi-join; in-block Levenshtein only"),
    ("q_nation_trade_triangles", "Q7 fact spine once; oriented edge relation checkpointed; two edge-grain equi-joins"),
    ("q_user_state_scd2", "(user, day)-chunked lag + lead windows; day-grain boundary merges"),
    ("decontaminate_fuzzy", "asymmetric LSH: broadcast eval bands; candidate-only jaccard verify"),
    ("q_nation_segment_unpivot", "single-pass pivot then map-side Expand melt; no extra Exchange"),
]


def normalize(plan: str) -> str:
    """``plan`` with expression ids (``#123``, ``#123L``), exchange plan
    ids (``plan_id=457``) and RDD ids and call sites
    (``MapPartitionsRDD[34] at localCheckpoint at ...``) replaced by fixed
    tokens."""
    plan = re.sub(r"#\d+L?\b", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    return re.sub(r"\b(\w*RDD)\[\d+\] at [^,\n]*", r"\1[_]", plan)


def main() -> None:
    spark = get_spark("plans")
    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    if sys.argv[1:]:
        sf = os.environ.get("SPARK_GRAFT_SF_DIR", sf)
        for name in sys.argv[1:]:
            print(f"## {name}\n\n{normalize(plan_str(qs[name](spark, sf))).strip()}\n")
        return
    out = ["# PLANS — headline physical plans (local[*], sf0.001 shapes)\n"]
    out.append(
        "Regenerate with `python scripts/dump_plans.py`. The shapes below are\n"
        "what the plan tests in `tests/test_plans.py` pin; sizes change with SF,\n"
        "the operator structure does not (AQE may coalesce partitions at runtime).\n"
    )
    for name, note in SHOW:
        plan = plan_str(qs[name](spark, sf), mode="simple")
        out.append(f"\n## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
