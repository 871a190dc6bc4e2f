"""Materialized rollup: build, coarser-group answering, incremental add."""

import pytest
from pyspark.sql import functions as F


def _facts(spark, sf_dir):
    from sentiment_analysis_vector_search_spark.catalog import table

    return table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_partkey") % 4).alias("pgrp"),
        "l_quantity",
        "l_extendedprice",
    )


def _direct(df, group_by):
    aggs = [
        F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast("double").alias("sum_qty"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
            / F.count("l_extendedprice")
        ).cast("double").alias("avg_price"),
        F.count(F.lit(1)).alias("count_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    ]
    return df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)


WANTS = [
    ("sum", "qty"),
    ("avg", "price"),
    ("count", "*"),
    ("min", "qty"),
    ("max", "qty"),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rollup_answers_equal_direct_aggregation(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.plans.matviews import (
        build_rollup,
        rollup_answer,
    )

    facts = _facts(spark, sf_dir)
    out = str(tmp_path / "mv")
    build_rollup(
        spark,
        facts,
        ["l_returnflag", "l_linestatus", "pgrp"],
        {"qty": "l_quantity", "price": "l_extendedprice"},
        out,
    )
    # every coarser grouping, including the grand total
    for gb in (
        ["l_returnflag", "l_linestatus", "pgrp"],
        ["l_returnflag", "l_linestatus"],
        ["pgrp"],
        [],
    ):
        got = rollup_answer(spark, out, gb, WANTS)
        want = _direct(facts, gb).select(*got.columns)
        assert _rows(got) == _rows(want), gb


def test_rollup_refuses_unanswerable(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.plans.matviews import (
        build_rollup,
        can_answer,
        rollup_answer,
    )

    out = str(tmp_path / "mv")
    build_rollup(
        spark, _facts(spark, sf_dir), ["l_returnflag"], {"qty": "l_quantity"}, out
    )
    assert not can_answer(out, ["pgrp"], [("sum", "qty")])  # finer dim
    assert not can_answer(out, ["l_returnflag"], [("sum", "price")])  # unknown measure
    assert not can_answer(out, ["l_returnflag"], [("median", "qty")])  # non-reagg
    assert can_answer(out, [], [("count", "*"), ("avg", "qty")])
    with pytest.raises(ValueError, match="cannot answer"):
        rollup_answer(spark, out, ["pgrp"], [("sum", "qty")])


def test_rollup_add_folds_new_batch(spark, sf_dir, tmp_path):
    """Incremental append: rollup built from the even half + added odd
    half must answer exactly like a direct aggregate over the union —
    the partial state is mergeable, duplicate dim rows re-aggregate."""
    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.plans.matviews import (
        build_rollup,
        rollup_add,
        rollup_answer,
    )

    li = table(spark, sf_dir, "lineitem")
    cols = [
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        (F.col("l_partkey") % 4).alias("pgrp"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
    ]
    base = li.where(F.col("l_orderkey") % 2 == 0).select(*cols)
    batch = li.where(F.col("l_orderkey") % 2 == 1).select(*cols)
    out = str(tmp_path / "mv")
    build_rollup(
        spark,
        base,
        ["l_returnflag", "l_linestatus"],
        {"qty": "l_quantity", "price": "l_extendedprice"},
        out,
    )
    rollup_add(spark, out, batch)
    got = rollup_answer(spark, out, ["l_returnflag"], WANTS)
    want = _direct(_facts(spark, sf_dir), ["l_returnflag"]).select(*got.columns)
    assert _rows(got) == _rows(want)


def test_rollup_answer_scans_rollup_not_facts(spark, sf_dir, tmp_path):
    """The whole point: the answer plan reads the rollup parquet, and
    its scan is rollup-sized (grouped-cardinality rows), not the fact
    table."""
    from sentiment_analysis_vector_search_spark.plans import plan_str
    from sentiment_analysis_vector_search_spark.plans.matviews import (
        build_rollup,
        rollup_answer,
    )

    out = str(tmp_path / "mv")
    build_rollup(
        spark, _facts(spark, sf_dir), ["l_returnflag"], {"qty": "l_quantity"}, out
    )
    plan = plan_str(rollup_answer(spark, out, ["l_returnflag"], [("sum", "qty")]))
    assert "mv" in plan and "lineitem" not in plan


def test_rollup_compact_state_aware(spark, sf_dir, tmp_path):
    """After several adds, compaction collapses duplicate dim tuples to
    one state row each WITHOUT touching facts, and answers are
    unchanged — including min/max, which a naive re-sum would corrupt."""
    import os

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.plans.matviews import (
        build_rollup,
        rollup_add,
        rollup_answer,
        rollup_compact,
    )

    li = table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"]
    out = str(tmp_path / "mv")
    build_rollup(
        spark,
        li.where(F.col("l_orderkey") % 3 == 0).select(*cols),
        ["l_returnflag", "l_linestatus"],
        {"qty": "l_quantity", "price": "l_extendedprice"},
        out,
    )
    for i in (1, 2):
        rollup_add(spark, out, li.where(F.col("l_orderkey") % 3 == i).select(*cols))
    before = _rows(rollup_answer(spark, out, ["l_returnflag"], WANTS))
    state_rows_before = spark.read.parquet(out).count()
    n = rollup_compact(spark, out)
    assert n < state_rows_before  # duplicate dim tuples collapsed
    assert n == spark.read.parquet(out).select("l_returnflag", "l_linestatus").distinct().count()
    after = _rows(rollup_answer(spark, out, ["l_returnflag"], WANTS))
    assert after == before
    assert os.listdir(tmp_path) == ["mv"]  # no staging left


def test_cli_rollup_compact_folds_added_state(spark, sf_dir, tmp_path, capsys):
    """``rollup compact`` folds the partial state ``rollup add`` appends:
    after build, add, add, compact the answers are unchanged and the
    rollup holds one state row per dim tuple."""
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.catalog import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity"
    )
    srcs = []
    for i in range(3):
        srcs.append(str(tmp_path / f"facts{i}"))
        li.where(F.col("l_orderkey") % 3 == i).write.parquet(srcs[-1])
    out = str(tmp_path / "mv")

    def run(*argv):
        assert main(list(argv)) == 0
        return [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]

    run("rollup", "build", out, "--source", srcs[0],
        "--dims", "l_returnflag,l_linestatus", "--measures", "qty=l_quantity")
    for src in srcs[1:]:
        run("rollup", "add", out, "--source", src)

    def answer():
        rows = run("rollup", "answer", out, "--group-by", "l_returnflag",
                   "--wants", "sum:qty,avg:qty,min:qty,max:qty,count:*")
        return sorted(json.dumps(r, sort_keys=True) for r in rows)

    before = answer()
    state_before = spark.read.parquet(out).count()
    (done,) = run("rollup", "compact", out)
    assert answer() == before
    dims = spark.read.parquet(out).select("l_returnflag", "l_linestatus")
    assert done["state_rows"] == dims.count() == dims.distinct().count() < state_before
