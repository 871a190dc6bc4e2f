"""Plan-shape assertions: the scale gate.

Value parity at sf0.01 can't tell a broadcast join from a shuffled one or a
pruned scan from a full-width scan — these tests pin the physical-plan
properties that decide whether an operator survives 100 TB.
"""

import re

import __spark_entry__ as entrymod
import pytest

from sentiment_analysis_vector_search_spark.plans import (
    assert_in_plan,
    count_in_plan,
    plan_str,
    pushed_filters,
    scan_read_schemas,
)

QUERIES = entrymod.queries()


def test_q1_filter_and_projection_pushdown(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters, filters
    schemas = scan_read_schemas(df)
    # 7 needed columns only — l_orderkey/l_partkey/l_suppkey/l_linenumber
    # must be pruned from the scan.
    assert schemas and all("l_orderkey" not in s for s in schemas), schemas


def test_q1_partial_aggregation(spark, sf_dir):
    # Map-side partial agg before the shuffle: the 6-group aggregate must
    # not move raw rows across the exchange.
    plan = plan_str(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["q5_local_supplier"](spark, sf_dir)
    # region/nation/supplier/customer are dims: every dim join must be a
    # broadcast, never a shuffled sort-merge join of a dim against the fact.
    assert count_in_plan(df, "BroadcastHashJoin") >= 3, plan_str(df)


def test_q3_broadcasts_customer(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    assert_in_plan(df, "BroadcastHashJoin")
    filters = " ".join(pushed_filters(df))
    assert "c_mktsegment" in filters or "o_orderdate" in filters, filters


def test_global_topk_is_take_ordered(spark, sf_dir):
    # Global top-k must compile to TakeOrderedAndProject (distributed
    # per-partition heaps), not an unpartitioned row_number window.
    for name in ("rag_retrieve", "tfidf_vectors"):
        df = QUERIES[name](spark, sf_dir)
        assert_in_plan(df, "TakeOrderedAndProject")


def test_events_sessions_partitioned_window(spark, sf_dir):
    # The sessionization lag window partitions by user_id — no global
    # single-partition Window in the plan.
    plan = plan_str(QUERIES["q_events_sessions"](spark, sf_dir))
    assert "Window" in plan
    for line in plan.splitlines():
        if line.strip().startswith("Arguments:") and "windowspecdefinition" in line:
            assert "user_id" in line, line


def test_dedup_embedding_no_cartesian(spark, sf_dir, monkeypatch):
    # Bucketed candidate generation must join on bucket keys; a cartesian
    # product or a nested-loop join in any dedup plan means the prefilter
    # was optimized away. Covers simhash and every operator built on the
    # shingle-similarity core. The banded candidate join runs inside an
    # eager cut (``dedup.band_candidates``), so the final plans only read
    # its result: the cut dedup.py calls is wrapped to record the plan of
    # every frame it cuts, and the band join is checked there.
    from sentiment_analysis_vector_search_spark.operators import dedup

    cut_plans: list[str] = []
    real_cut = dedup.cut

    def recording_cut(df, eager=False):
        cut_plans.append(plan_str(df))
        return real_cut(df, eager)

    monkeypatch.setattr(dedup, "cut", recording_cut)
    banded = {
        "dedup_minhash_lsh",
        "dedup_minhash_quality_audit",
        "decontaminate_fuzzy",
        "dedup_keep_canonical",
    }
    band_join = re.compile(
        r"Left keys \[2\]: \[band#\d+, bh#\d+\]\n"
        r"Right keys \[2\]: \[band#\d+, bh#\d+\]"
    )
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_minhash_quality_audit",
        "decontaminate_fuzzy",
        "dedup_keep_canonical",
    ):
        cut_plans.clear()
        plan = plan_str(QUERIES[name](spark, sf_dir))
        for p in (plan, *cut_plans):
            assert "CartesianProduct" not in p, f"{name}:\n{p}"
            assert "BroadcastNestedLoopJoin" not in p, f"{name}:\n{p}"
        if name in banded:
            assert any(band_join.search(p) for p in cut_plans), (
                f"{name}: no cut frame joins on (band, bh):\n" + "\n".join(cut_plans)
            )
        # keep_canonical's plan reads its converged labels through a cut
        if name != "dedup_keep_canonical":
            assert "HashJoin" in plan or "SortMergeJoin" in plan, f"{name}:\n{plan}"


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    # Text scoring stays JVM-side: no Python row UDFs (BatchEvalPython) in
    # the classify/quality plans. AQE-wrapped plans (any plan with an
    # exchange) carry no codegen annotations until executed, so run the
    # frame first and assert on the FINAL plan.
    for name in ("sent_classify", "text_quality", "text_token_count"):
        df = QUERIES[name](spark, sf_dir)
        assert "BatchEvalPython" not in plan_str(df), f"{name} fell back to Python rows"
        # collect() executes THIS frame's queryExecution (count() would plan
        # a new one), finalizing the adaptive plan so codegen ids appear.
        df.collect()
        final = plan_str(df, mode="simple")
        assert "*(" in final, f"{name} final plan has no whole-stage codegen:\n{final}"


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = QUERIES["q6_forecast_revenue"](spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    schemas = scan_read_schemas(df)
    assert schemas and all("l_tax" not in s for s in schemas), schemas


def test_q10_broadcasts_dims_and_takeordered(spark, sf_dir):
    df = QUERIES["q10_returned_items"](spark, sf_dir)
    assert count_in_plan(df, "BroadcastHashJoin") >= 2, plan_str(df)
    assert_in_plan(df, "TakeOrderedAndProject")
    filters = " ".join(pushed_filters(df))
    assert "l_returnflag" in filters, filters


def test_q18_semi_join_is_broadcast(spark, sf_dir):
    plan = plan_str(QUERIES["q18_large_orders"](spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_q22_anti_join_present(spark, sf_dir):
    plan = plan_str(QUERIES["q22_dormant_customers"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    df = QUERIES["q22_dormant_customers"](spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    assert "o_orderdate" in filters, filters


def test_asof_window_partitioned_by_user(spark, sf_dir):
    plan = plan_str(QUERIES["q_events_asof_attribution"](spark, sf_dir))
    assert "Window" in plan
    for line in plan.splitlines():
        if line.strip().startswith("Arguments:") and "windowspecdefinition" in line:
            assert "user_id" in line, line


def _windowspec_lines(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if "windowspecdefinition" in l]


def test_sessions_event_grain_window_is_chunk_split(spark, sf_dir):
    """r6 verdict #4 done-criterion: the lag-gap sessionization window no
    longer serializes a hot user's entire history through one task — the
    EVENT-GRAIN window (the one ordering by event_id) must partition by
    (user_id, chunk); a user_id-only window may appear only at day-chunk
    grain (ordering by chunk, bounded rows per user)."""
    df = QUERIES["q_events_sessions"](spark, sf_dir)
    plan = plan_str(df)
    specs = _windowspec_lines(plan)
    event_grain = [l for l in specs if "event_id" in l]
    assert event_grain, plan
    for line in event_grain:
        assert "chunk" in line, line


def test_order_deciles_distributed_rank(spark, sf_dir):
    # The ntile replacement must keep the TeraSort shape: a range exchange
    # on the sort key, broadcast per-partition offsets, and NO
    # unpartitioned window over data-sized input — the only global windows
    # allowed are over the per-partition count relation (≤ n_part rows:
    # they order by _pid or fold sum(c)).
    df = QUERIES["q_order_deciles"](spark, sf_dir)
    plan = plan_str(df)
    # Since r7 the query routes through functions/ranks.dist_ntile, whose
    # lazy localCheckpoint pins one RangePartitioner boundary sample for
    # both plan branches — the range exchange therefore lives inside the
    # checkpointed subtree and surfaces as an ExistingRDD scan here.
    assert "ntile" not in plan.lower(), plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for line in _windowspec_lines(plan):
        assert "_pid" in line or "sum(c#" in line, line


def test_rag_context_windows_bounded_and_joins_broadcast(spark, sf_dir):
    # Keyword/example top-k windows must partition by sentiment; the only
    # unpartitioned window allowed is the pct denominator over the 3-row
    # sentiment distribution (folds sum(n_reviews)). The dist⋈kw⋈ex joins
    # are tiny-aggregate joins and must be broadcast, not shuffled.
    from sentiment_analysis_vector_search_spark.plans import count_in_plan

    df = QUERIES["rag_context_assemble"](spark, sf_dir)
    plan = plan_str(df)
    for line in _windowspec_lines(plan):
        assert "sentiment#" in line or "sum(n_reviews#" in line, line
    assert count_in_plan(df, "BroadcastHashJoin") >= 2, plan


def test_ivf_codebook_is_broadcast_not_literal(spark, sf_dir):
    # The codebook must enter the plan as a broadcast relation; 16x64
    # literal arrays inline would blow up Catalyst optimization time.
    df = QUERIES["ann_ivf_topk"](spark, sf_dir)
    assert count_in_plan(df, "BroadcastNestedLoopJoin") + count_in_plan(
        df, "BroadcastExchange"
    ) >= 1, plan_str(df)


def test_decontaminate_broadcast_and_no_corpus_shuffle(spark, sf_dir):
    # The eval gram set must enter as a broadcast; the only Exchanges
    # allowed are the conditional scan fan-out (round-robin) and the
    # groupBy over the (rare) matching grams — never a corpus-wide hash
    # shuffle of the full gram explosion... which would show as an
    # Exchange hashpartitioning on g.
    df = QUERIES["decontaminate_ngrams"](spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastExchange" in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "g#" not in line.split("hashpartitioning", 1)[1], line


def test_q7_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    # Both nation-annotated dims must broadcast; the only fact-fact join
    # (lineitem⋈orders) may shuffle. Zero SortMergeJoin of a dim.
    df = QUERIES["q7_nation_trade"](spark, sf_dir)
    assert count_in_plan(df, "BroadcastHashJoin") >= 3, plan_str(df)


def test_q13_left_outer_preserved(spark, sf_dir):
    # Zero-order customers must survive: the join stays LEFT OUTER (an
    # inner rewrite would silently drop the c_count=0 histogram bucket).
    plan = plan_str(QUERIES["q13_order_count_dist"](spark, sf_dir))
    assert "LeftOuter" in plan, plan


def test_q2_supply_agg_then_broadcast_dims(spark, sf_dir):
    # supply is aggregated from lineitem FIRST; part + EUROPE suppliers
    # broadcast onto the aggregated relation. No dim may shuffle-join.
    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    assert count_in_plan(df, "BroadcastHashJoin") >= 2, plan_str(df)
    assert count_in_plan(df, "CartesianProduct") == 0


def test_q8_q9_dims_broadcast(spark, sf_dir):
    # Q8: part/region/supplier/both nation roles broadcast; Q9: all dims.
    assert count_in_plan(QUERIES["q8_national_share"](spark, sf_dir), "BroadcastHashJoin") >= 4
    assert count_in_plan(QUERIES["q9_product_profit"](spark, sf_dir), "BroadcastHashJoin") >= 3


def test_q11_q15_global_scalar_is_broadcast(spark, sf_dir):
    # The global total/max joins back as a broadcast single-row relation —
    # never a driver-side collect (no LocalTableScan of a collected value).
    for name in ("q11_important_stock", "q15_top_supplier"):
        plan = plan_str(QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
            name,
            plan,
        )


def test_q12_shipdate_pushed_to_scan(spark, sf_dir):
    filters = " ".join(pushed_filters(QUERIES["q12_priority_shipping"](spark, sf_dir)))
    assert "l_shipdate" in filters, filters


def test_q21_single_lineitem_scan(spark, sf_dir):
    # The decorrelated rewrite's whole point: the textbook EXISTS/NOT
    # EXISTS form scans lineitem THREE times (l1, l2, l3); the engine's
    # aggregation form must scan it exactly once.
    plan = plan_str(QUERIES["q21_waiting_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    # The packing window must partition by the shard key (source) — a
    # global unpartitioned window would serialize the corpus through one
    # task at 100 TB.
    plan = plan_str(QUERIES["pack_sequences"](spark, sf_dir))
    assert "hashpartitioning(source" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_keep_canonical_no_cartesian(spark, sf_dir):
    # The plan reads its converged labels through a lineage cut, so its
    # pair join (the dedup_minhash_lsh plan) is not in it; what remains
    # must still join without a cartesian product or a nested loop.
    df = QUERIES["dedup_keep_canonical"](spark, sf_dir)
    assert count_in_plan(df, "CartesianProduct") == 0, plan_str(df)
    assert count_in_plan(df, "BroadcastNestedLoopJoin") == 0, plan_str(df)


def test_chunking_is_map_only(spark, sf_dir):
    # Chunk generation is scan + generate: any Exchange would mean the
    # per-row explode got shuffled, which has no reason to happen.
    df = QUERIES["chunk_documents"](spark, sf_dir)
    assert count_in_plan(df, "Exchange") == 0, plan_str(df)
    assert_in_plan(df, "Generate")
    # only the needed columns reach the scan
    schemas = scan_read_schemas(df)
    assert schemas and all("lang" not in s for s in schemas), schemas


def test_contrastive_pairs_window_keyed_by_doc(spark, sf_dir):
    # The lead() window must be partitioned by doc_id (scales with docs),
    # not a global window.
    plan = plan_str(QUERIES["contrastive_pairs"](spark, sf_dir))
    assert "Window" in plan, plan
    assert "doc_id" in plan[plan.index("Window") : plan.index("Window") + 400], plan


def test_split_assign_is_map_only(spark, sf_dir):
    df = QUERIES["split_train_holdout"](spark, sf_dir)
    assert count_in_plan(df, "Exchange") == 0, plan_str(df)


def test_rag_chunk_retrieve_broadcast_query_topk(spark, sf_dir):
    # One-row query relation joins by broadcast (never a shuffled cross),
    # and the global top-k compiles to TakeOrderedAndProject.
    df = QUERIES["rag_chunk_retrieve"](spark, sf_dir)
    plan = plan_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_no_cartesian_and_broadcast_stages(spark, sf_dir):
    # PQ's three fan-ins — codebook (encode), LUT (ADC), query vectors
    # (rerank) — must all be broadcast, and nothing may fall back to a
    # cartesian product: the corpus side is only ever scanned, equi-joined
    # on bucket-like keys, and window-ranked per query.
    df = QUERIES["ann_pq_adc_topk"](spark, sf_dir)
    plan = plan_str(df)
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "BroadcastHashJoin") >= 3, plan


def test_cap_per_source_single_shuffle(spark, sf_dir):
    # One window keyed by source: exactly one exchange (hash by source),
    # no join, no extra sort beyond the window's.
    df = QUERIES["cap_per_source"](spark, sf_dir)
    plan = plan_str(df)
    # formatted mode prints each node twice (tree + detail section)
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_trigram_gram_side_not_shuffled(spark, sf_dir):
    """r6 plan claim: the gram relation reaches the corpus-frequency join
    via BROADCAST (charset^3-bounded build side) — the only exchanges are
    the doc_id aggregation, the bounded corpus aggregation, and fan_out's
    input spread. No gram-keyed (hashpartitioning on g) exchange."""
    df = QUERIES["text_char_trigram_score"](spark, sf_dir)
    plan = plan_str(df).lower()
    assert "broadcasthashjoin" in plan, plan
    # the gram-INSTANCE side must never be shuffle-joined; the only
    # g-keyed exchanges allowed are the bounded corpus aggregation's
    # (partial_count -> final agg over <= charset^3 rows)
    assert "sortmergejoin" not in plan, plan
    assert "shuffledhashjoin" not in plan, plan


def test_dau_wau_no_event_grain_self_join(spark, sf_dir):
    """r6 plan claim: the rolling distinct is a x7 fan-out of distinct
    (user, day) pairs — the events scan appears ONCE per side of the
    final day join at most, never joined to itself at event grain."""
    df = QUERIES["q_events_dau_wau"](spark, sf_dir)
    plan = plan_str(df).lower()
    # two scans of events (dau side + votes side) are fine; what must NOT
    # appear is a join keyed on user_id at event grain (the O(n^2)-ish
    # range self-join the oracle uses)
    assert "sortmergejoin" not in plan or "user_id" not in plan.split("sortmergejoin")[1][:200], plan
    assert plan.count("generate explode") <= 1, plan


def test_zorder_no_global_ntile_window(spark, sf_dir):
    """r5 verdict #2 done-criterion: no single-partition ntile window in
    zorder_by's plan (the ranks come from dist_ntile's checkpointed
    range-partitioned blocks)."""
    from sentiment_analysis_vector_search_spark.sinks import zorder_by

    import re

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    z = zorder_by(orders, ["o_custkey", "o_orderkey"], bits=8, n_files=4)
    plan = plan_str(z).lower()
    assert "ntile" not in plan, plan
    # window nodes may remain ONLY for dist_ntile's per-partition-count
    # offsets (ordered by _pid over <= shuffle-partitions rows, inside a
    # broadcast); any other global window would be a data-sized sort onto
    # one partition.
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        spec = m.group(1)
        assert "_pid#" in spec or spec.startswith("specifiedwindowframe"), plan[
            max(0, m.start() - 200) : m.end() + 100
        ]


def test_every_registered_query_plan_is_lint_clean(spark, sf_dir):
    """The automated anti-pattern sweep (r7): EVERY registered query's
    physical plan must be free of CartesianProduct and row-at-a-time
    Python UDFs — the two unconditional 100 TB scale-killers. Per-query
    plan tests pin finer shapes; this guarantees no operator ever ships
    with the coarse ones, including future additions (a new registry
    entry is linted automatically)."""
    from sentiment_analysis_vector_search_spark.plans import lint_plan
    from sentiment_analysis_vector_search_spark.registry import (
        QUERIES,
        load_all_modules,
    )

    load_all_modules()
    bad = {}
    for name, fn in QUERIES.items():
        try:
            v = lint_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — surface as a lint failure
            v = [f"plan-build-error: {e}"]
        if v:
            bad[name] = v
    assert not bad, bad


def test_skyline_no_self_join(spark, sf_dir):
    """q_part_skyline's whole claim: dominance via prefix maxima, never
    the O(n^2) NOT EXISTS self-join — the part scan feeds the price
    grain and the final row filter, but no join pairs part rows with
    part rows; and both window phases exist (bucket prefix + in-bucket
    strict prefix)."""
    df = QUERIES["q_part_skyline"](spark, sf_dir)
    plan = plan_str(df)
    # the only joins are the bucket-prefix broadcast and the price-grain
    # attach: neither is a part-x-part pairing, so no join output can
    # exceed |part| rows. Cheap proxy: no SortMergeJoin keyed on p_size
    # (a dominance self-join would need the size in its condition).
    for seg in plan.split("SortMergeJoin")[1:]:
        assert "p_size" not in seg[:120], plan
    assert plan.count("Window") >= 2, plan
    assert "CartesianProduct" not in plan


def test_scd2_windows_are_chunk_partitioned(spark, sf_dir):
    """Every event-grain window in the SCD2 build must be partitioned by
    (user, chunk) — a bare user_id-partitioned window over events would
    re-concentrate a hot user's history in one task."""
    df = QUERIES["q_user_state_scd2"](spark, sf_dir)
    plan = plan_str(df)
    specs = [
        l for l in plan.splitlines() if "windowspecdefinition" in l.lower()
    ]
    assert specs, plan
    for line in specs:
        low = line.lower()
        # day-grain merge windows order by chunk; event/change-grain
        # windows must carry chunk in the partition spec
        assert "chunk" in low, line


def test_triangles_edge_relation_reused_not_rederived(spark, sf_dir):
    """The oriented edge list is lineage-cut once; the triangle stage
    must read the materialized edges (ExistingRDD) three times instead
    of re-running the fact-fact derivation per side."""
    df = QUERIES["q_nation_trade_triangles"](spark, sf_dir)
    plan = plan_str(df)
    assert plan.lower().count("existingrdd") >= 3, plan
    # the fact-fact derivation must not appear in the final plan at all
    # (it ran once at checkpoint time)
    assert "l_orderkey" not in plan, plan
    assert "CartesianProduct" not in plan
