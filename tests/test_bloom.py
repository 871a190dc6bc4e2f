from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.bloom import (
    bloom_candidate_files,
    bloom_index_add,
    bloom_index_stats,
    bloom_lookup,
    build_bloom_index,
)


@pytest.fixture(scope="module")
def table_dir(spark, sf_dir, tmp_path_factory) -> str:
    """documents spread over many small files so skipping is observable."""
    d = str(tmp_path_factory.mktemp("bloom") / "docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(12, "doc_id").write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def index_dir(spark, table_dir, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("bloom") / "idx")
    build_bloom_index(spark, table_dir, "doc_id", d)
    return d


def _data_files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(table_dir, n)
        for n in os.listdir(table_dir)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def test_lookup_matches_full_filter(spark, table_dir, index_dir):
    full = spark.read.parquet(table_dir)
    keys = [r.doc_id for r in full.orderBy("doc_id").limit(3).collect()]
    got, opened = bloom_lookup(spark, table_dir, index_dir, keys)
    want = full.where(F.col("doc_id").isin(keys))
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    # the filter must actually skip: candidates are a strict subset
    assert 0 < len(opened) < len(_data_files(table_dir))


def test_candidates_cover_containing_file(spark, table_dir, index_dir):
    # every key's TRUE containing file must be a candidate (no false
    # negatives — the Bloom guarantee the reader relies on)
    rows = (
        spark.read.parquet(table_dir)
        .select("doc_id", F.input_file_name().alias("f"))
        .limit(50)
        .collect()
    )
    for r in rows[:10]:
        cands = bloom_candidate_files(spark, index_dir, [r.doc_id])
        truth = r.f[7:] if r.f.startswith("file://") else r.f
        assert truth in cands


def test_absent_key_opens_almost_nothing(spark, table_dir, index_dir):
    # a key far outside the domain: every filter should reject it (16
    # bits/key, k=4 => ~0.2% fp per file; allow <=1 unlucky collision)
    got, opened = bloom_lookup(spark, table_dir, index_dir, [10**15 + 17])
    assert got.count() == 0
    assert len(opened) <= 1


def test_add_only_indexes_new_files(spark, table_dir, index_dir, sf_dir):
    # append two more files, add-index them, and expect lookup coverage
    extra = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .limit(40)
    )
    extra.repartition(2).write.mode("append").parquet(table_dir)
    n_new = bloom_index_add(spark, table_dir, index_dir)
    assert n_new == 2
    # re-add is a no-op
    assert bloom_index_add(spark, table_dir, index_dir) == 0
    key = 1_000_000 + extra.agg(F.min("doc_id") - 1_000_000).collect()[0][0]
    got, opened = bloom_lookup(spark, table_dir, index_dir, [key])
    assert got.count() == 1
    assert len(opened) < len(_data_files(table_dir))


def test_stats_fill_sane(spark, index_dir):
    stats = bloom_index_stats(spark, index_dir).collect()
    assert stats
    for r in stats:
        assert 0.0 < r.fill < 0.6  # sized at 16 bits/key => well under half
        assert r.fp_rate < 0.13


def test_pushdown_in_candidate_scan(spark, table_dir, index_dir):
    keys = [
        r.doc_id
        for r in spark.read.parquet(table_dir).orderBy("doc_id").limit(2).collect()
    ]
    got, opened = bloom_lookup(spark, table_dir, index_dir, keys)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc_id" in plan


def test_stream_bloom_maintenance(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.bloom import (
        bloom_candidate_files,
        bloom_lookup,
        build_bloom_index,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_bloom_maintenance,
    )

    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # three source files => three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    table_dir, index_dir, ck = (
        str(tmp_path / "tbl"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    stream_bloom_maintenance(spark, src, table_dir, index_dir, ck)

    full = spark.read.parquet(table_dir)
    assert full.count() == docs.count()
    keys = [r.doc_id for r in docs.orderBy("doc_id").limit(2).collect()]
    got, opened = bloom_lookup(spark, table_dir, index_dir, keys)
    want = full.where(F.col("doc_id").isin(keys))
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    assert opened  # and the index covers the streamed files

    # streamed index == one-shot rebuild (same candidate sets)
    rebuilt = str(tmp_path / "idx2")
    build_bloom_index(spark, table_dir, "doc_id", rebuilt)
    for k in keys + [10**15 + 3]:
        assert bloom_candidate_files(
            spark, index_dir, [k]
        ) == bloom_candidate_files(spark, rebuilt, [k])

    # re-drain: no new rows, no new index entries
    n_idx = spark.read.parquet(f"{index_dir}/files.parquet").count()
    stream_bloom_maintenance(spark, src, table_dir, index_dir, ck)
    assert spark.read.parquet(table_dir).count() == docs.count()
    assert spark.read.parquet(f"{index_dir}/files.parquet").count() == n_idx

    # crash replay: with Spark's last commit entry and the loop's record
    # both gone, Spark re-runs its last batch and the loop re-applies it;
    # the staged append re-replaces the same files instead of appending
    last = max(int(n) for n in os.listdir(f"{ck}/commits") if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(f"{ck}/commits/{name}"):
            os.remove(f"{ck}/commits/{name}")
    os.remove(f"{ck}/_bloom_commits.json")
    stream_bloom_maintenance(spark, src, table_dir, index_dir, ck)
    assert os.path.exists(f"{ck}/commits/{last}")
    assert spark.read.parquet(table_dir).count() == docs.count()
    assert spark.read.parquet(f"{index_dir}/files.parquet").count() == n_idx


def test_percent_encoded_filename_roundtrip(spark, sf_dir, tmp_path):
    """Files with URI-escaping characters in the name (spaces -> %20 in
    input_file_name()) must not be re-indexed by every add, and lookups
    must not list the same file twice (r8 advice)."""
    d = str(tmp_path / "docs with space")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    # give the data file itself an escapable name
    part = next(
        n for n in os.listdir(d) if n.endswith(".parquet") and not n.startswith(("_", "."))
    )
    os.rename(os.path.join(d, part), os.path.join(d, "part one.parquet"))
    idx = str(tmp_path / "idx")
    build_bloom_index(spark, d, "doc_id", idx)
    # nothing new: the normalized URI matches the listed path
    assert bloom_index_add(spark, d, idx) == 0
    key = docs.select("doc_id").first()[0]
    cands = bloom_candidate_files(spark, idx, [key])
    assert len(cands) == len(set(cands)) == 1
    got, opened = bloom_lookup(spark, d, idx, [key])
    assert got.count() == 1 and len(opened) == 1


def test_candidate_test_runs_executor_side(spark, index_dir):
    """The lookup plan must not collect bitmaps to the driver: the
    mapInPandas membership test projects the index relation down to
    paths before any collect (r8 verdict #1)."""
    import sentiment_analysis_vector_search_spark.bloom as B

    idx = spark.read.parquet(f"{index_dir}/files.parquet")
    keys = ["1"]
    pairs = [B._hash_pair(k) for k in keys]
    assert pairs  # the helper exists and is the one the test path uses
    # structural check: bloom_candidate_files goes through mapInPandas
    import inspect

    src = inspect.getsource(B.bloom_candidate_files)
    assert "mapInPandas" in src and ".collect()" not in src.split("mapInPandas")[0]


def test_bits_per_key_matches_default_and_grows(spark, sf_dir, table_dir):
    """r8 verdict #7 'Done': the stats-derived knob equals the hand
    default at test SF and grows at 100x the file count."""
    from sentiment_analysis_vector_search_spark.bloom import (
        _DEFAULT_BITS_PER_KEY,
        bloom_bits_per_key_for,
    )

    n_files = len(_data_files(table_dir))  # the fixture's real file count
    assert n_files > 1
    assert bloom_bits_per_key_for(n_files) == _DEFAULT_BITS_PER_KEY
    grown = bloom_bits_per_key_for(n_files * 100)
    assert grown > _DEFAULT_BITS_PER_KEY
    # and the derived value is what the build records (provenance)
    import json
    import os

    idx = str(os.path.join(os.path.dirname(table_dir), "knob_idx"))
    build_bloom_index(spark, table_dir, "doc_id", idx, bits_per_key=grown)
    man = json.load(open(os.path.join(idx, "manifest.json")))
    assert man["bits_per_key"] == grown


def test_add_maintains_on_uri_path_shape(spark, sf_dir, tmp_path):
    """bloom_index_add on a file:// URI (the object-store path shape —
    r9 verdict #3): add over a URI-addressed table is ≡ no-op when
    nothing is new, indexes exactly the appended files when something
    is, and the resulting index serves lookups identically to the
    local-path build."""
    d = str(tmp_path / "docs_uri")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4, "doc_id").write.mode("overwrite").parquet(d)
    idx = str(tmp_path / "idx_uri")
    uri = f"file://{d}"
    build_bloom_index(spark, uri, "doc_id", idx)
    # no-op re-add through the URI AND through the plain path: the
    # normalized identities must agree regardless of path shape
    assert bloom_index_add(spark, uri, idx) == 0
    assert bloom_index_add(spark, d, idx) == 0
    extra = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    ).limit(20)
    extra.repartition(1).write.mode("append").parquet(d)
    assert bloom_index_add(spark, uri, idx) == 1
    assert bloom_index_add(spark, uri, idx) == 0
    key = extra.agg(F.min("doc_id")).collect()[0][0]
    got, opened = bloom_lookup(spark, uri, idx, [key])
    assert got.count() == 1
    assert len(opened) == 1


def test_list_data_files_uri_and_local_agree(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.bloom import _norm_path
    from sentiment_analysis_vector_search_spark.sinks import list_data_files

    d = str(tmp_path / "lst")
    spark.read.parquet(f"{sf_dir}/region.parquet").write.parquet(d)
    via_local = [_norm_path(p) for p in list_data_files(spark, d)]
    via_uri = [_norm_path(p) for p in list_data_files(spark, f"file://{d}")]
    assert via_local == via_uri
    assert via_local == sorted(
        os.path.join(d, n)
        for n in os.listdir(d)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )
