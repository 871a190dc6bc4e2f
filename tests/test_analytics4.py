"""analytics4: market basket, skew-safe path trigrams, curriculum order."""

import pytest
from pyspark.sql import functions as F

from tests.parity import assert_parity

ANALYTICS4 = [
    "q_orders_market_basket",
    "q_events_path_trigrams",
    "train_curriculum_order",
    "q_events_hot_user_join",
    "q_events_range_join",
    "q_urgent_revenue_semi_reduce",
    "q_part_skyline",
]


@pytest.mark.parametrize("name", ANALYTICS4)
def test_analytics4_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_market_basket_lift_and_bounds(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q_orders_market_basket"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r["part_a"] < r["part_b"]
        # co-occurrence can never exceed either part's own order count
        assert r["co_orders"] <= min(r["orders_a"], r["orders_b"])
        assert r["lift"] > 0


def test_path_trigrams_equal_naive_global_window(spark, sf_dir):
    """The two-phase chunk-split trigrams must equal the naive global
    per-user window on the FULL trigram relation (not only the top-k the
    query returns) — including trigrams that span two and three
    day-chunks through one-event days."""
    import __spark_entry__ as entrymod  # noqa: F401

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.operators.analytics4 import (
        q_events_path_trigrams,
    )
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    naive = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .where(F.col("e1").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = q_events_path_trigrams(spark, sf_dir).select("e1", "e2", "e3", "n")
    want_all = {(r.e1, r.e2, r.e3): r.n for r in naive.collect()}
    got_top = {(r.e1, r.e2, r.e3): r.n for r in got.collect()}
    # every returned trigram count must match the naive count exactly
    for k, n in got_top.items():
        assert want_all.get(k) == n, (k, n, want_all.get(k))
    # and the top-k cutoff must be a true top slice of the naive counts
    if len(got_top) < len(want_all):
        cutoff = min(got_top.values())
        above = sum(1 for n in want_all.values() if n > cutoff)
        assert above <= len(got_top)


def test_path_trigrams_crossing_fixture(spark):
    """Synthetic fixture: one user, one event per day for five days —
    every trigram spans three one-event chunks and ONLY the boundary
    merge can find them."""
    rows = [
        (1, f"2024-01-0{d} 12:00:00", f"t{d}", d) for d in range(1, 6)
    ]
    ev = spark.createDataFrame(
        rows, "user_id int, ts_s string, event_type string, event_id int"
    ).select(
        "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type",
        "event_id",
    )
    import sentiment_analysis_vector_search_spark.operators.analytics4 as a4

    orig = a4.table
    a4.table = lambda spark, sf_dir, name: ev
    try:
        got = sorted(
            (r.e1, r.e2, r.e3, r.n)
            for r in a4.q_events_path_trigrams(spark, "ignored").collect()
        )
    finally:
        a4.table = orig
    assert got == [
        ("t1", "t2", "t3", 1),
        ("t2", "t3", "t4", 1),
        ("t3", "t4", "t5", 1),
    ]


def test_path_trigrams_event_grain_window_is_chunk_split(spark, sf_dir):
    from sentiment_analysis_vector_search_spark.operators.analytics4 import (
        q_events_path_trigrams,
    )
    from sentiment_analysis_vector_search_spark.plans import plan_str

    plan = plan_str(q_events_path_trigrams(spark, sf_dir))
    # Since the shared-window rework, the (user_id, chunk)-grain lag/rank
    # frame is localCheckpointed (single computation for both consuming
    # branches), so the final plan reads the materialized blocks
    # (ExistingRDD) instead of showing the event-grain window. What must
    # hold: any window that DOES order by event_id is chunk-partitioned,
    # and the checkpoint-backed scan is present.
    event_grain = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "event_id" in l
    ]
    for line in event_grain:
        assert "chunk" in line, line
    assert "existingrdd" in plan.lower(), plan
    # the merge window runs at edge-row grain (chunk, rn), never a
    # whole-history per-user event sort
    merge_windows = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "event_id" not in l
    ]
    assert any("chunk" in l and "rn" in l for l in merge_windows), plan


def test_curriculum_stages_are_balanced_and_ordered(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["train_curriculum_order"](spark, sf_dir)
    sizes = {
        r["stage"]: r["n"]
        for r in df.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(sizes) == set(range(1, 11))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # stage boundaries respect the length order: max length of stage k
    # <= min length of stage k+2 is too weak; assert non-decreasing
    # stage-max across stages (ties can straddle a boundary)
    maxes = {
        r["stage"]: r["mx"]
        for r in df.groupBy("stage").agg(F.max("n_chars").alias("mx")).collect()
    }
    mins = {
        r["stage"]: r["mn"]
        for r in df.groupBy("stage").agg(F.min("n_chars").alias("mn")).collect()
    }
    for k in range(1, 10):
        assert maxes[k] <= mins[k + 1] or maxes[k] <= maxes[k + 1]
    assert df.where((F.col("shard") < 0) | (F.col("shard") >= 8)).count() == 0


def test_range_join_matches_python_reference(spark, sf_dir):
    """The bucketized range join must equal a direct python evaluation
    of the containment predicate (pins bucket coverage: no window loses
    its prior-evening or next-morning events, none double-counts)."""
    import os

    import pandas as pd

    from sentiment_analysis_vector_search_spark.operators.analytics4 import (
        q_events_range_join,
    )

    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    ts = pd.to_datetime(ev.ts)
    ev = ev.assign(day=ts.dt.strftime("%Y-%m-%d"), hh=ts.dt.hour)
    got = {
        (r["event_type"], r["win_day"]): (r["n_events"], r["win_value"])
        for r in q_events_range_join(spark, sf_dir).collect()
    }
    for (et, d), _ in list(got.items())[:40]:
        day = pd.Timestamp(d)
        prev, nxt = (day - pd.Timedelta(days=1)).strftime("%Y-%m-%d"), (
            day + pd.Timedelta(days=1)
        ).strftime("%Y-%m-%d")
        g = ev[ev.event_type == et]
        m = g[
            (g.day == d)
            | ((g.day == prev) & (g.hh >= 18))
            | ((g.day == nxt) & (g.hh < 6))
        ]
        assert got[(et, d)][0] == len(m), (et, d)
        assert abs(got[(et, d)][1] - float(m.value.sum())) < 1e-6
    # every (type, day) present in the data defines a window
    assert set(got) == set(map(tuple, ev[["event_type", "day"]].drop_duplicates().values))


def test_semi_reduce_query_plan_and_flips(spark, sf_dir):
    """q_urgent_revenue_semi_reduce: the executed plan carries the
    broadcast LeftSemi pre-filter at the chooser's verdict; the same
    sides flip to plain shuffle when the big side overlaps heavily
    (pre-filtering would save nothing), and to broadcast when the whole
    small side fits the budget."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F  # noqa: F811

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.stats import (
        choose_join_strategy,
        key_set_bytes,
        partition_stats,
        schema_row_bytes,
    )

    df = entrymod.queries()["q_urgent_revenue_semi_reduce"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan

    small = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("okey"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_totalprice",
        )
    )
    st_small = partition_stats(small.select("okey"))
    width = schema_row_bytes(small, st_small)
    # high-overlap big side: lineitem keys RESTRICTED to the small side's
    # own keys -> match fraction ~1.0 -> chooser must refuse semi_reduce
    big_hi = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("okey"))
        .join(small.select("okey").distinct(), "okey", "leftsemi")
    )
    st_big_hi = partition_stats(big_hi)

    rows_bytes = st_small["okey"]["n_rows"] * width
    cap = int((key_set_bytes(st_small, "okey") + rows_bytes) // 2)
    assert (
        choose_join_strategy(st_small, st_big_hi, "okey", width, cap)
        == "shuffle"
    )
    # budget above the small side's full row bytes -> plain broadcast wins
    st_big = partition_stats(
        table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("okey"))
    )
    assert (
        choose_join_strategy(
            st_small, st_big, "okey", width, int(rows_bytes * 2)
        )
        == "broadcast"
    )


def test_semi_reduce_query_stats_survive_persistence(spark, sf_dir, tmp_path):
    """The chooser's verdict is identical whether the KMV stats are live
    (partition_stats) or round-tripped through the persisted JSON
    (fold_sketch -> load_sketch) — the deployment path."""
    from pyspark.sql import functions as F  # noqa: F811

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.stats import (
        choose_join_strategy,
        fold_sketch,
        key_set_bytes,
        load_sketch,
        partition_stats,
        schema_row_bytes,
    )

    small = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("okey"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_totalprice",
        )
    )
    big = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey")
    )
    sd = str(tmp_path / "stats")
    fold_sketch("analyze", sd, "urgent_keys", small.select("okey"))
    fold_sketch("analyze", sd, "line_keys", big)
    st_small = load_sketch("analyze", sd, "urgent_keys")
    st_big = load_sketch("analyze", sd, "line_keys")
    live_small = partition_stats(small.select("okey"))
    assert st_small["okey"]["kmv"] == live_small["okey"]["kmv"]
    width = schema_row_bytes(small, st_small)
    rows_bytes = st_small["okey"]["n_rows"] * width
    cap = int((key_set_bytes(st_small, "okey") + rows_bytes) // 2)
    assert (
        choose_join_strategy(st_small, st_big, "okey", width, cap)
        == "semi_reduce"
    )


def test_semi_reduce_memo_cleared_by_stats_refresh(spark, sf_dir):
    """catalog/stats refresh must invalidate the demo query's memoized
    key-column sketches along with every other derived-stats cache."""
    import __spark_entry__ as entrymod

    from sentiment_analysis_vector_search_spark import stats as stats_mod
    from sentiment_analysis_vector_search_spark.operators import analytics4 as a4

    entrymod.queries()["q_urgent_revenue_semi_reduce"](spark, sf_dir)
    assert sf_dir in a4._SEMI_STATS_MEMO.get(spark, {})
    stats_mod.refresh(sf_dir)
    assert sf_dir not in a4._SEMI_STATS_MEMO.get(spark, {})
    entrymod.queries()["q_urgent_revenue_semi_reduce"](spark, sf_dir)
    assert sf_dir in a4._SEMI_STATS_MEMO.get(spark, {})
    stats_mod.refresh()  # the clear-all form
    assert not a4._SEMI_STATS_MEMO.get(spark, {})


def test_skyline_matches_bruteforce_with_ties(spark, tmp_path):
    """Dominance edge cases: duplicate (price, size) points are BOTH on the
    skyline (dominance needs one strict coordinate), equal-price rows with
    smaller size are dominated, and the prefix-max engine plan reproduces
    the brute-force O(n^2) definition exactly."""
    import os

    import pandas as pd

    from sentiment_analysis_vector_search_spark.operators.analytics4 import (
        q_part_skyline,
    )

    pts = [
        # (key, price, size)
        (1, 900.0, 10),   # skyline (cheapest, ties size with 2)
        (2, 900.0, 10),   # duplicate of 1 -> also skyline
        (3, 900.0, 5),    # equal price, smaller size -> dominated by 1
        (4, 950.0, 20),   # skyline (bigger size than anything cheaper)
        (5, 950.0, 20),   # duplicate of 4 -> also skyline
        (6, 960.0, 20),   # dominated by 4 (cheaper, same size)
        (7, 970.0, 19),   # dominated by 4 (cheaper AND bigger)
        (8, 980.0, 50),   # skyline (max size overall)
        (9, 999.0, 50),   # dominated by 8
        (10, 899.0, 1),   # skyline (global cheapest)
    ]
    df = pd.DataFrame(
        [
            {
                "p_partkey": k,
                "p_name": f"part{k}",
                "p_brand": "b",
                "p_type": "t",
                "p_size": s,
                "p_retailprice": p,
            }
            for k, p, s in pts
        ]
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.to_parquet(os.path.join(d, "part.parquet"), index=False)

    def dominated(a):
        return any(
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
            for b in pts
        )

    expect = {k for k, p, s in pts if not dominated((k, p, s))}
    got = {r["p_partkey"] for r in q_part_skyline(spark, d).collect()}
    assert got == expect == {1, 2, 4, 5, 8, 10}


def test_star_ordered_revenue_parity_and_order(spark, sf_dir):
    """The chooser-ordered star query (late r13): oracle parity, the
    filtered dims ordered before the orders spine, plan broadcasts both
    filtered dims, and the memoized plan makes repeat calls cheap (no
    re-ANALYZE)."""
    from sentiment_analysis_vector_search_spark.operators.analytics4 import (
        _SO_PLAN_MEMO,
        q_star_ordered_revenue,
    )
    from tests.parity import assert_parity

    assert_parity(spark, "q_star_ordered_revenue", sf_dir)

    per = _SO_PLAN_MEMO.get(spark) or {}
    plan = per.get(sf_dir)
    assert plan is not None, "chooser plan not memoized"
    order = [st["dim"] for st in plan]
    assert order[-1] == "orders" and set(order[:2]) == {"supplier", "part"}
    strat = {st["dim"]: st["strategy"] for st in plan}
    assert strat["supplier"] == "broadcast" and strat["part"] == "broadcast"
    phys = (
        q_star_ordered_revenue(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert phys.count("broadcasthashjoin") >= 2
