import glob

from pyspark.sql import functions as F

from tests.parity import assert_parity


def test_stream_sessionize_parity(spark, sf_dir):
    assert_parity(spark, "stream_sessionize", sf_dir)


def test_write_partitioned_layout_and_roundtrip(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.sinks import read_back, write_partitioned

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "by_lang")
    write_partitioned(docs, out, partition_by=("lang",), sort_within=("doc_id",))

    # hive-style partition dirs exist
    dirs = {p.split("/")[-1] for p in glob.glob(f"{out}/lang=*")}
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert dirs == {f"lang={l}" for l in langs}

    back = read_back(spark, out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter scans only that directory
    some_lang = next(iter(langs))
    pruned = back.where(F.col("lang") == some_lang)
    assert pruned.count() == docs.where(F.col("lang") == some_lang).count()


def test_write_training_shards_even_and_sorted(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.sinks import read_back, write_training_shards

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4

    total = docs.count()
    # range partitioning: shards are disjoint key ranges covering everything
    seen = 0
    prev_max = None
    for f in files:
        pdf = spark.read.parquet(f).select("doc_id").toPandas()
        seen += len(pdf)
        assert len(pdf) >= total // 10, "shard badly skewed"
        lo, hi = pdf["doc_id"].min(), pdf["doc_id"].max()
        if prev_max is not None:
            assert lo > prev_max
        prev_max = hi
    assert seen == total


def test_write_bucketed_colocated_join_no_shuffle(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.plans import count_in_plan, plan_str
    from sentiment_analysis_vector_search_spark.sinks import write_bucketed

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        orders, spark, "b_orders", str(tmp_path / "b_orders"), "o_orderkey", 4
    )
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        spark,
        "b_lineitem",
        str(tmp_path / "b_lineitem"),
        "o_orderkey",
        4,
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
            # co-located: SortMergeJoin with zero shuffle exchanges
            assert count_in_plan(joined, "Exchange") == 0, plan_str(joined)
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
    )
    plain = ev.join(dim, "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("user_events")).alias("s")
    ).first()
    salted = salted_join(ev, dim, "user_id", n_salts=8, salt_src="event_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("user_events")).alias("s")
    ).first()
    assert (plain.n, plain.s) == (salted.n, salted.s)


def test_stream_stateful_user_stats_parity(spark, sf_dir):
    assert_parity(spark, "stream_stateful_user_stats", sf_dir)


def test_stream_dedup_exact_parity(spark, sf_dir):
    assert_parity(spark, "stream_dedup_exact", sf_dir)


def test_stream_interval_join_parity(spark, sf_dir):
    assert_parity(spark, "stream_interval_join", sf_dir)


def test_compact_dir_reduces_files_keeps_rows(spark, sf_dir, tmp_path):
    import glob as _glob

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.sinks import compact_dir

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "many_files")
    docs.repartition(16).write.parquet(out)
    assert len(_glob.glob(f"{out}/*.parquet")) >= 16
    n_before = docs.count()
    compact_dir(spark, out, target_files=2, sort_within=("doc_id",))
    assert len(_glob.glob(f"{out}/*.parquet")) <= 2
    back = spark.read.parquet(out)
    assert back.count() == n_before


def test_text_embed_stub_parity(spark, sf_dir):
    assert_parity(spark, "text_embed_stub", sf_dir)


def test_expire_partitions(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.sinks import (
        expire_partitions,
        write_partitioned,
    )

    events = table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "retained")
    write_partitioned(events, path, partition_by=("day",), sort_within=("event_id",))
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("day=")
    )
    assert len(days) > 2
    cutoff = days[len(days) // 2]
    # a non-partition dir must survive (the reference's visualizations rule)
    os.mkdir(os.path.join(path, "visualizations"))

    removed = expire_partitions(path, "day", keep_from=cutoff)
    assert removed == [d for d in days if d < cutoff]
    assert os.path.isdir(os.path.join(path, "visualizations"))
    left = spark.read.parquet(path)
    # the partition column reads back type-inferred (DATE) — compare as text
    assert str(left.agg(F.min(F.col("day").cast("string"))).collect()[0][0]) >= cutoff
    # retained row count equals the original rows at-or-after the cutoff
    want = events.where(F.col("day") >= cutoff).count()
    assert left.count() == want


def test_manifest_pruned_read_skips_files(spark, sf_dir, tmp_path):
    import os

    from sentiment_analysis_vector_search_spark.sinks import (
        manifest_prune,
        read_pruned,
        write_with_manifest,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_clustered")
    clustered = orders.repartitionByRange(8, F.col("o_orderkey")).sortWithinPartitions(
        "o_orderkey"
    )
    manifest = write_with_manifest(spark, clustered, path, ["o_orderkey"])
    assert len(manifest["files"]) == 8
    assert os.path.exists(os.path.join(path, "_manifest.json"))

    lo, hi = 10, 60  # narrow key range → one or two of 8 range-files
    kept, total = manifest_prune(path, "o_orderkey", lo, hi)
    assert total == 8
    assert 1 <= len(kept) <= 2, kept

    got = read_pruned(spark, path, "o_orderkey", lo, hi)
    # only the kept files are opened
    assert set(got.inputFiles()) <= {f"file://{p}" for p in kept} | set(kept)
    want = orders.where(F.col("o_orderkey").between(lo, hi))
    assert sorted(r.o_orderkey for r in got.collect()) == sorted(
        r.o_orderkey for r in want.collect()
    )

    # empty overlap → zero rows without error
    assert read_pruned(spark, path, "o_orderkey", -100, -50).count() == 0


def test_merge_upsert_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    import os

    from sentiment_analysis_vector_search_spark.sinks import (
        merge_upsert,
        write_partitioned,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    path = str(tmp_path / "docs_merge")
    write_partitioned(docs, path, partition_by=("lang",), sort_within=("doc_id",))

    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
    target_lang, other_lang = langs[0], langs[1]
    before_other = {
        f: os.path.getmtime(f"{path}/lang={other_lang}/{f}")
        for f in os.listdir(f"{path}/lang={other_lang}")
    }

    some_id = docs.where(F.col("lang") == target_lang).agg(F.min("doc_id")).collect()[0][0]
    updates = spark.createDataFrame(
        [(int(some_id), "REPLACED TEXT", target_lang), (10**9, "BRAND NEW", target_lang)],
        "doc_id bigint, text string, lang string",
    )
    rewritten = merge_upsert(spark, path, updates, keys=["doc_id"], partition_col="lang")
    assert rewritten == [target_lang]

    after = spark.read.parquet(path)
    assert after.where(F.col("doc_id") == some_id).collect()[0].text == "REPLACED TEXT"
    assert after.where(F.col("doc_id") == 10**9).count() == 1
    # row count: +1 insert, replacement not duplicated
    assert after.count() == docs.count() + 1
    # untouched partition's files identical
    after_other = {
        f: os.path.getmtime(f"{path}/lang={other_lang}/{f}")
        for f in os.listdir(f"{path}/lang={other_lang}")
    }
    assert after_other == before_other
    # other-partition content untouched
    assert after.where(F.col("lang") == other_lang).count() == docs.where(
        F.col("lang") == other_lang
    ).count()


def test_zorder_manifest_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order clustering + manifest: files skippable on EITHER column.
    Single-column range clustering would leave the second column's
    per-file ranges spanning the whole domain (no skipping)."""
    from sentiment_analysis_vector_search_spark.sinks import (
        manifest_prune,
        read_pruned,
        write_with_manifest,
        zorder_by,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # write the z-sorted frame directly: orderBy range-partitions along
    # the curve (session shuffle width = 8 files) — re-partitioning by a
    # single column here would destroy exactly the locality being built
    z = zorder_by(orders, ["o_custkey", "o_orderkey"], bits=8, n_files=8)
    path = str(tmp_path / "orders_z")
    write_with_manifest(spark, z, path, ["o_custkey", "o_orderkey"])
    n = orders.count()
    custs = sorted(r.o_custkey for r in orders.select("o_custkey").collect())
    keys = sorted(r.o_orderkey for r in orders.select("o_orderkey").collect())

    # narrow range on EACH column must skip files
    for col, domain in (("o_custkey", custs), ("o_orderkey", keys)):
        lo, hi = domain[n // 10], domain[n // 10 + max(2, n // 50)]
        kept, total = manifest_prune(path, col, lo, hi)
        assert total >= 4
        assert len(kept) < total, (col, len(kept), total)
        got = read_pruned(spark, path, col, lo, hi)
        want = orders.where(F.col(col).between(lo, hi)).count()
        assert got.count() == want


def test_apply_cdc_upserts_and_deletes(spark, sf_dir, tmp_path):
    import os

    from sentiment_analysis_vector_search_spark.sinks import (
        apply_cdc,
        write_partitioned,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    path = str(tmp_path / "docs_cdc")
    write_partitioned(docs, path, partition_by=("lang",), sort_within=("doc_id",))
    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
    tgt, other = langs[0], langs[1]
    ids = sorted(
        r.doc_id for r in docs.where(F.col("lang") == tgt).select("doc_id").collect()
    )
    upd_id, del_id, new_id = ids[0], ids[1], 10**9
    before_other = set(os.listdir(f"{path}/lang={other}"))

    changes = spark.createDataFrame(
        [
            (upd_id, "UPDATED", tgt, "U", 1),
            (del_id, None, tgt, "D", 2),
            (new_id, "INSERTED", tgt, "I", 3),
            # same key changed twice: last _seq wins
            (new_id, "INSERTED_V2", tgt, "U", 4),
        ],
        "doc_id bigint, text string, lang string, _op string, _seq int",
    )
    rewritten = apply_cdc(
        spark, path, changes, keys=["doc_id"], partition_col="lang", op_col="_op"
    )
    assert rewritten == [tgt]

    after = spark.read.parquet(path)
    assert after.where(F.col("doc_id") == upd_id).collect()[0].text == "UPDATED"
    assert after.where(F.col("doc_id") == del_id).count() == 0
    assert after.where(F.col("doc_id") == new_id).collect()[0].text == "INSERTED_V2"
    assert after.count() == docs.count() + 1 - 1  # +insert -delete
    assert set(os.listdir(f"{path}/lang={other}")) == before_other


def test_write_jsonl_shards_roundtrip(spark, sf_dir, tmp_path):
    import glob
    import json

    from sentiment_analysis_vector_search_spark.sinks import write_jsonl_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "jsonl")
    write_jsonl_shards(docs, out, n_shards=4)
    files = sorted(glob.glob(f"{out}/part-*"))
    assert len(files) == 4
    rows = []
    for f in files:
        with open(f) as fh:
            rows.extend(json.loads(ln) for ln in fh if ln.strip())
    assert len(rows) == docs.count()
    assert {r["doc_id"] for r in rows} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def test_snapshot_commit_time_travel_and_expiry(spark, sf_dir, tmp_path):
    import os

    from sentiment_analysis_vector_search_spark.sinks import (
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
        snapshot_versions,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    first = docs.where(F.col("doc_id") < 50)
    second = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    root = str(tmp_path / "snap_table")

    v1 = commit_snapshot(first, root)
    v2 = commit_snapshot(second, root, mode="append")
    assert (v1, v2) == (1, 2)

    # append was a metadata-only commit: v1's files are referenced, not
    # rewritten — v2 lists them plus exactly the new commit's files
    import json

    with open(os.path.join(root, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    assert any(p.startswith("data/commit-00001") for p in m2["files"])

    assert read_snapshot(spark, root, v1).count() == 50
    assert read_snapshot(spark, root, v2).count() == 80
    assert read_snapshot(spark, root).count() == 80  # latest

    # overwrite starts fresh; old versions stay time-travelable
    v3 = commit_snapshot(first.limit(10), root, mode="overwrite")
    assert read_snapshot(spark, root, v3).count() == 10
    assert read_snapshot(spark, root, v1).count() == 50

    # a crashed half-commit (data dir, no manifest) is invisible
    os.makedirs(os.path.join(root, "data", "commit-00099"))
    assert snapshot_versions(root) == [1, 2, 3]
    assert read_snapshot(spark, root).count() == 10

    # expiry keeps the latest, drops v1/v2, and vacuums data referenced
    # by no surviving snapshot (v3 overwrote, so commit-00001/2 both go)
    deleted = expire_snapshots(root, keep_last=1)
    assert snapshot_versions(root) == [3]
    assert any("commit-00001" in p for p in deleted)
    assert any("commit-00002" in p for p in deleted)
    assert read_snapshot(spark, root, v3).count() == 10
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_snapshot(spark, root, v1)


def test_vacuum_orphans_removes_crashed_commits_only(spark, sf_dir, tmp_path):
    """A crashed commit (data written, manifest rename never reached) is
    invisible to readers but leaks storage; vacuum_orphans removes it
    after the grace period while never touching referenced files, and
    protects fresh dirs that may be mid-commit."""
    import os

    from sentiment_analysis_vector_search_spark.sinks import (
        commit_snapshot,
        read_snapshot,
        vacuum_orphans,
    )

    root = str(tmp_path / "snap_table")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v1 = commit_snapshot(orders.limit(50), root)
    n_before = read_snapshot(spark, root).count()

    # simulate a crashed commit: data dir exists, no manifest for it
    crashed = os.path.join(root, "data", "commit-99999")
    orders.limit(10).write.parquet(crashed)

    # within the grace period the crashed dir is protected
    assert vacuum_orphans(root, grace_seconds=3600) == []
    assert os.path.isdir(crashed)

    # past the grace period it is removed; live snapshot untouched
    deleted = vacuum_orphans(root, grace_seconds=0)
    assert deleted and all(p.startswith("data/commit-99999") for p in deleted)
    assert not os.path.isdir(crashed)
    assert read_snapshot(spark, root, version=v1).count() == n_before
    # idempotent
    assert vacuum_orphans(root, grace_seconds=0) == []


def test_analyze_table_stats_one_scan(spark, sf_dir):
    """Per-column stats must be exact for counts/min/max and sane for
    approx ndv, computed in ONE aggregate scan (no per-column jobs)."""
    from sentiment_analysis_vector_search_spark.plans import plan_str
    from sentiment_analysis_vector_search_spark.sinks import analyze_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stats = analyze_table(orders)
    rows = {r["column"]: r for r in stats.collect()}
    n = orders.count()
    assert set(rows) == set(orders.columns)
    for c, r in rows.items():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
    ok = rows["o_orderkey"]
    assert int(ok["min_value"]) == orders.agg({"o_orderkey": "min"}).collect()[0][0]
    assert int(ok["max_value"]) == orders.agg({"o_orderkey": "max"}).collect()[0][0]
    exact = orders.select("o_custkey").distinct().count()
    assert abs(rows["o_custkey"]["approx_ndv"] - exact) <= max(5, exact * 0.1)
    # single scan: the OPTIMIZED LOGICAL plan holds exactly one relation
    # (the physical rendering under AQE repeats the tree, so count there
    # is inflated by display, not by extra scans)
    opt = stats._jdf.queryExecution().optimizedPlan().toString().lower()
    assert opt.count("relation [") == 1, opt


def test_optimize_table_compacts_clusters_and_prunes(spark, tmp_path):
    """optimize_table = compaction + z-order + manifest in one atomic
    verb: the messy many-small-files dir becomes n_files curve-clustered
    files, values survive byte-identically, and the rebuilt manifest
    prunes on BOTH zorder columns."""
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.sinks import (
        manifest_prune,
        optimize_table,
        read_pruned,
    )

    path = str(tmp_path / "t")
    # 20 small appended files, rows shuffled so per-file ranges all overlap
    df = (
        spark.range(0, 4000)
        .select(
            (F.xxhash64("id") % 64).alias("a"),
            (F.xxhash64("id", F.lit(1)) % 64).alias("b"),
            F.col("id").alias("v"),
        )
    )
    for i in range(20):
        df.where(F.col("id") % 20 == i).coalesce(1).write.mode("append").parquet(path)
    before = sorted(r["v"] for r in spark.read.parquet(path).collect())
    n_before = sum(1 for n in os.listdir(path) if n.endswith(".parquet"))
    assert n_before == 20

    optimize_table(spark, path, ["a", "b"], n_files=4, bits=6)

    files = [n for n in os.listdir(path) if n.endswith(".parquet")]
    assert len(files) == 4
    assert sorted(r["v"] for r in spark.read.parquet(path).collect()) == before
    # pruning works on both columns — the whole point of the z-curve
    for col in ("a", "b"):
        kept, total = manifest_prune(path, col, -64, -33)
        assert total == 4
        assert len(kept) < total, (col, kept)
        got = read_pruned(spark, path, col, -64, -33)
        exp = spark.read.parquet(path).where(F.col(col).between(-64, -33))
        assert sorted(r["v"] for r in got.collect()) == sorted(
            r["v"] for r in exp.collect()
        )
    # no swap debris
    assert not [n for n in os.listdir(tmp_path) if "__old_" in n or "__optimize_" in n]


def test_read_pruned_multi_conjunctive_skipping(spark, tmp_path):
    """After optimize_table on (a, b), a two-predicate read must open no
    more files than either single-predicate prune and return exactly the
    fully-filtered rows."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.sinks import (
        manifest_prune,
        manifest_prune_multi,
        optimize_table,
        read_pruned_multi,
    )

    path = str(tmp_path / "t")
    spark.range(0, 4096).select(
        (F.xxhash64("id") % 64).alias("a"),
        (F.xxhash64("id", F.lit(7)) % 64).alias("b"),
        F.col("id").alias("v"),
    ).write.parquet(path)
    optimize_table(spark, path, ["a", "b"], n_files=8, bits=6)

    preds = {"a": (-64, -33), "b": (-64, -33)}
    kept, total = manifest_prune_multi(path, preds)
    assert total == 8
    for col, (lo, hi) in preds.items():
        single, _ = manifest_prune(path, col, lo, hi)
        assert set(kept) <= set(single)
    assert len(kept) < total
    got = sorted(r["v"] for r in read_pruned_multi(spark, path, preds).collect())
    exp = sorted(
        r["v"]
        for r in spark.read.parquet(path)
        .where(F.col("a").between(-64, -33) & F.col("b").between(-64, -33))
        .collect()
    )
    assert got == exp


def test_snapshot_diff_files_and_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.sinks import (
        commit_snapshot,
        snapshot_diff,
    )

    root = str(tmp_path / "snap")
    base = spark.range(0, 10).select("id", (F.col("id") * 2).alias("v"))
    v1 = commit_snapshot(base.coalesce(1), root)
    v2 = commit_snapshot(
        spark.range(10, 13).select("id", (F.col("id") * 2).alias("v")).coalesce(1),
        root,
        mode="append",
    )
    d12 = snapshot_diff(spark, root, v1, v2)
    assert d12["files_removed"] == [] and len(d12["files_added"]) == 1
    assert sorted(r["id"] for r in d12["rows_added"].collect()) == [10, 11, 12]
    assert d12["rows_removed"].count() == 0
    v3 = commit_snapshot(
        spark.range(5, 8).select("id", (F.col("id") * 2).alias("v")).coalesce(1),
        root,
        mode="overwrite",
    )
    d23 = snapshot_diff(spark, root, v2, v3)
    assert len(d23["files_removed"]) == 2  # both prior commits dropped
    assert d23["rows_added"].count() == 0  # 5..7 already existed in v2
    assert sorted(r["id"] for r in d23["rows_removed"].collect()) == [
        0, 1, 2, 3, 4, 8, 9, 10, 11, 12,
    ]


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """Additive schema evolution: an update batch carrying a NEW column
    merges with nulls backfilled for old rows; untouched partitions are
    readable through read_evolved with the new column as nulls."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.sinks import (
        merge_upsert,
        read_evolved,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0)],
        "k int, day string, v double",
    ).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame(
        [(2, "d1", 21.0, "extra2"), (4, "d1", 40.0, "extra4")],
        "k int, day string, v double, note string",
    )
    rewritten = merge_upsert(
        spark, path, updates, keys=["k"], partition_col="day",
        allow_new_columns=True,
    )
    assert rewritten == ["d1"]
    got = {
        r["k"]: (r["v"], r["note"])
        for r in read_evolved(spark, path).collect()
    }
    assert got == {
        1: (10.0, None),   # old row in rewritten partition: null backfill
        2: (21.0, "extra2"),  # replaced
        3: (30.0, None),   # untouched partition, old schema
        4: (40.0, "extra4"),  # inserted
    }


def test_merge_after_evolution_preserves_evolved_column(spark, tmp_path):
    """r7 ADVICE (high) regression: after a schema-evolving merge, a LATER
    merge touching the same partition with an UNevolved batch must not
    silently null previously stored values of the late-added column —
    the old bug was a plain (single-footer-sampled) read of the mixed-
    schema table."""
    from pyspark.sql import functions as F  # noqa: F401

    from sentiment_analysis_vector_search_spark.sinks import (
        merge_upsert,
        read_evolved,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "b", 30.0)],
        "k int, day string, v double",
    ).write.partitionBy("day").parquet(path)
    # evolve day=b: k=2 gains note='KEEP-ME'
    merge_upsert(
        spark,
        path,
        spark.createDataFrame(
            [(2, "b", 21.0, "KEEP-ME")], "k int, day string, v double, note string"
        ),
        keys=["k"],
        partition_col="day",
        allow_new_columns=True,
    )
    # second merge: UNRELATED key in day=b, batch does NOT carry `note`
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(9, "b", 90.0)], "k int, day string, v double"),
        keys=["k"],
        partition_col="day",
    )
    got = {
        r["k"]: (r["v"], r["note"]) for r in read_evolved(spark, path).collect()
    }
    assert got == {
        1: (10.0, None),
        2: (21.0, "KEEP-ME"),  # the r7-advice bug nulled this
        3: (30.0, None),
        9: (90.0, None),  # new row from unevolved batch: null note
    }
    # a batch adding a column WITHOUT the evolution opt-in must error loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="allow_new_columns"):
        merge_upsert(
            spark,
            path,
            spark.createDataFrame(
                [(1, "a", 1.0, "x")], "k int, day string, v double, typo string"
            ),
            keys=["k"],
            partition_col="day",
        )


def test_apply_cdc_after_evolution_preserves_evolved_column(spark, tmp_path):
    """Same regression for apply_cdc: an unevolved CDC batch against an
    evolved table keeps stored evolved values; a column-adding CDC batch
    errors (no evolution flag on the CDC path)."""
    import pytest as _pytest

    from sentiment_analysis_vector_search_spark.sinks import (
        apply_cdc,
        merge_upsert,
        read_evolved,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "b", 10.0), (2, "b", 20.0)], "k int, day string, v double"
    ).write.partitionBy("day").parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame(
            [(2, "b", 21.0, "KEEP-ME")], "k int, day string, v double, note string"
        ),
        keys=["k"],
        partition_col="day",
        allow_new_columns=True,
    )
    apply_cdc(
        spark,
        path,
        spark.createDataFrame(
            [(3, "b", 30.0, "I"), (1, "b", 0.0, "D")],
            "k int, day string, v double, _op string",
        ),
        keys=["k"],
        partition_col="day",
    )
    got = {
        r["k"]: (r["v"], r["note"]) for r in read_evolved(spark, path).collect()
    }
    assert got == {2: (21.0, "KEEP-ME"), 3: (30.0, None)}
    with _pytest.raises(ValueError, match="evolve the table"):
        apply_cdc(
            spark,
            path,
            spark.createDataFrame(
                [(4, "b", 40.0, "x", "I")],
                "k int, day string, v double, typo string, _op string",
            ),
            keys=["k"],
            partition_col="day",
        )


def test_optimize_table_rollback_on_swap_failure(spark, tmp_path, monkeypatch):
    """If the second rename of the swap fails, the ORIGINAL table
    directory must be restored (not left missing with the optimized
    output deleted)."""
    import os

    from sentiment_analysis_vector_search_spark import sinks
    from sentiment_analysis_vector_search_spark.commit import SWAP, staged
    from sentiment_analysis_vector_search_spark.sinks import optimize_table

    path = str(tmp_path / "t")
    spark.range(100).selectExpr(
        "id as a", "cast(id % 7 as int) as b"
    ).write.parquet(path)
    want = sorted(r["a"] for r in spark.read.parquet(path).collect())

    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        # fail exactly the rename that installs the optimized dir as base
        if dst == path and src == staged(str(tmp_path), "t", swap=f"{SWAP}.t"):
            calls["n"] += 1
            raise OSError("simulated swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(sinks.os if hasattr(sinks, "os") else os, "rename", flaky_rename)
    monkeypatch.setattr(os, "rename", flaky_rename)
    try:
        optimize_table(spark, path, ["a", "b"], n_files=2, bits=4)
        raised = False
    except OSError:
        raised = True
    assert raised and calls["n"] == 1
    # original table back in place, values intact, no stray tmp dirs
    assert os.path.isdir(path)
    assert sorted(r["a"] for r in spark.read.parquet(path).collect()) == want
    assert sorted(os.listdir(tmp_path)) == ["t"]  # no staging left


def test_merge_upsert_crash_mid_swap_hides_staging(spark, tmp_path, monkeypatch):
    """A process death right after the old partition is moved aside:
    readers see only the table's own partition values, typed as before
    (no staging or displaced directory read as data), and the next
    writer's recovery leaves exactly the rows of the completed merge."""
    import pytest

    from sentiment_analysis_vector_search_spark.commit import recover_swaps
    from sentiment_analysis_vector_search_spark.sinks import merge_upsert
    from tests.swaps import Crash, crash_at

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "k int, day string, v double",
    ).write.partitionBy("day").parquet(base)
    updates = spark.createDataFrame(
        [(1, "2024-01-01", 11.0), (3, "2024-01-01", 30.0)],
        "k int, day string, v double",
    )
    crash_at(monkeypatch, 1)  # the install, right after the displacement
    with pytest.raises(Crash):
        merge_upsert(spark, base, updates, ["k"], "day")
    monkeypatch.undo()
    seen = spark.read.parquet(base)
    assert dict(seen.dtypes)["day"] == "date"
    days = {str(r.day) for r in seen.select("day").distinct().collect()}
    assert days <= {"2024-01-01", "2024-01-02"}

    recover_swaps(base)
    got = sorted((r.k, str(r.day), r.v) for r in spark.read.parquet(base).collect())
    assert got == [(1, "2024-01-01", 11.0), (2, "2024-01-02", 20.0), (3, "2024-01-01", 30.0)]


def test_jsonl_shards_roundtrip_through_read_documents(spark, sf_dir, tmp_path):
    """write_jsonl_shards (plain and gzip) must round-trip documents
    through sources.read_documents(fmt='json') — the training-feed
    export is also a first-class ingest format."""
    import os

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.sinks import write_jsonl_shards
    from sentiment_analysis_vector_search_spark.sources import read_documents

    docs = table(spark, sf_dir, "documents")
    want = sorted(r["doc_id"] for r in docs.collect())
    for comp, ext in ((None, ".json"), ("gzip", ".json.gz")):
        out = str(tmp_path / f"shards_{comp}")
        write_jsonl_shards(docs, out, n_shards=3, compression=comp)
        parts = [n for n in os.listdir(out) if n.startswith("part-")]
        assert len(parts) == 3 and all(n.endswith(ext) for n in parts), parts
        back = read_documents(spark, out, fmt="json")
        assert sorted(r["doc_id"] for r in back.collect()) == want
        assert back.columns == docs.columns


def test_merge_upsert_refuses_missing_base_columns(spark, tmp_path):
    """r8 advice (low): an update batch omitting a BASE-schema column
    must hard-error (silent NULL-backfill destroys stored values);
    late-evolved columns and the explicit opt-in still merge."""
    import pytest

    from sentiment_analysis_vector_search_spark.sinks import merge_upsert

    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10, "d1"), (2, "b", 20, "d1"), (3, "c", 30, "d2")],
        "id int, name string, score int, day string",
    )
    df.write.partitionBy("day").parquet(base)

    # batch omits 'score' (a base column): refuse
    bad = spark.createDataFrame([(1, "A", "d1")], "id int, name string, day string")
    with pytest.raises(ValueError, match="omits base-schema"):
        merge_upsert(spark, base, bad, ["id"], "day")

    # explicit opt-in still allowed
    merge_upsert(spark, base, bad, ["id"], "day", allow_missing_columns=True)
    got = spark.read.option("mergeSchema", "true").parquet(base)
    assert got.where("id = 1").first()["score"] is None

    # late-evolved column: a batch WITHOUT it merges fine by default
    base2 = str(tmp_path / "t2")
    df.write.partitionBy("day").parquet(base2)
    evolve = spark.createDataFrame(
        [(9, "z", 90, "tag", "d2")],
        "id int, name string, score int, extra string, day string",
    )
    merge_upsert(spark, base2, evolve, ["id"], "day", allow_new_columns=True)
    plain = spark.createDataFrame(
        [(2, "B", 21, "d1")], "id int, name string, score int, day string"
    )
    merge_upsert(spark, base2, plain, ["id"], "day")  # extra is late-evolved
    got2 = spark.read.option("mergeSchema", "true").parquet(base2)
    assert got2.where("id = 2").first()["name"] == "B"


def test_stream_emb_dedup_rejects_unhonorable_threshold(spark, tmp_path):
    import pytest

    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_dedup_ingest,
    )

    with pytest.raises(ValueError, match="never generated"):
        stream_dedup_ingest(
            spark,
            "emb",
            str(tmp_path / "src"),
            str(tmp_path / "idx"),
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            threshold=0.01,
        )
