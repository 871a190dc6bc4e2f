"""Streaming file sink: exactly-once semantics under re-drain."""

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.streaming.file_sink import (
    read_file_sink,
    stream_ingest_documents,
)


def test_stream_ingest_exactly_once(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ingested")
    ckpt = str(tmp_path / "ckpt")

    stream_ingest_documents(spark, sf_dir, out, ckpt)
    got = read_file_sink(spark, out)

    # gated content matches the batch quality gate
    from sentiment_analysis_vector_search_spark.operators.pipeline_ops import (
        gate_columns,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = docs.select("doc_id", gate_columns()["keep"].alias("keep")).where(
        F.col("keep")
    )
    n_want = want.count()
    assert got.count() == n_want
    assert got.select("doc_id").distinct().count() == n_want

    # partitioned by lang (hive layout, prunable)
    import os

    assert any(d.startswith("lang=") for d in os.listdir(out))

    # EXACTLY-ONCE: a second drain over the same (fully consumed) source
    # with the same checkpoint must append NOTHING — the offset log knows
    # the source is exhausted.
    stream_ingest_documents(spark, sf_dir, out, ckpt)
    again = read_file_sink(spark, out)
    assert again.count() == n_want
    assert again.select("doc_id").distinct().count() == n_want


def _day_rollup(spark, paths):
    """{(day, event_type): (n_events, value sum)} of the event files
    ``paths`` in one pass: what the maintained rollup must equal."""
    from sentiment_analysis_vector_search_spark.catalog import normalize_event_ts

    out = {}
    for p in paths:
        df = normalize_event_ts(spark.read.parquet(p))
        for r in (
            df.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(30,10)"))
                .cast("double")
                .alias("v"),
            )
            .collect()
        ):
            k = (r.day, r.event_type)
            n0, v0 = out.get(k, (0, 0.0))
            out[k] = (n0 + r.n, v0 + float(r.v))
    return out


def _rollup_state(spark, rollup):
    return {
        (str(r.day), r.event_type): (r.n_events, float(r.value_d))
        for r in spark.read.parquet(rollup).collect()
    }


def _assert_rollup_matches(spark, rollup, paths):
    got, want = _rollup_state(spark, rollup), _day_rollup(spark, paths)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def _seed_events(sf_dir, src_dir):
    """Copy the seed events file into a fresh stream source directory."""
    import os
    import shutil

    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    return f"{src_dir}/events.parquet"


def _land_extra_events(spark, src_dir, tmp_path):
    """Land a second events file (shifted ids, doubled values) in the
    source. Built from the RAW read so the new file keeps the seed's ts
    encoding — the stream reads every file with the schema probed from
    the seed (ts encodings have changed between rounds; a normalized-ts
    file would diverge)."""
    import glob
    import os

    base = spark.read.parquet(f"{src_dir}/events.parquet")
    extra = base.limit(500).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
        "props",
    )
    tmp_extra = str(tmp_path / "extra")
    extra.coalesce(1).write.parquet(tmp_extra)
    part = glob.glob(f"{tmp_extra}/part-*.parquet")[0]
    os.replace(part, f"{src_dir}/events_2.parquet")
    return f"{src_dir}/events_2.parquet"


def test_stream_rollup_maintenance_incremental(spark, sf_dir, tmp_path):
    """Rollup maintenance: initial drain builds the summary; a replayed
    drain with nothing new changes nothing; a new source file merges
    only its days. The rollup must always equal the batch aggregate over
    everything ingested so far."""
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_rollup_maintenance,
    )

    src_dir = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "rckpt")
    seed = _seed_events(sf_dir, src_dir)

    # 1. initial build
    stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    _assert_rollup_matches(spark, rollup, [seed])

    # 2. replay with no new data: unchanged
    before = _rollup_state(spark, rollup)
    stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    assert _rollup_state(spark, rollup) == before

    # 3. incremental: a NEW file lands; the next drain merges only its days
    extra = _land_extra_events(spark, src_dir, tmp_path)
    stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    _assert_rollup_matches(spark, rollup, [seed, extra])


def test_stream_rollup_maintenance_crash_before_record_is_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash after a batch's day swap and before its replay record
    must not double-count the batch when the drain resumes: the days it
    rewrote carry its id inside the swap, so the replay skips them."""
    import pytest

    from sentiment_analysis_vector_search_spark.streaming import file_sink

    src_dir = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "rckpt")
    seed = _seed_events(sf_dir, src_dir)
    file_sink.stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    extra = _land_extra_events(spark, src_dir, tmp_path)

    real = file_sink.write_json

    def crash_before_record(path, obj):
        if path.endswith("_rollup_commits.json"):
            raise RuntimeError("crash between the day swap and the record")
        real(path, obj)

    monkeypatch.setattr(file_sink, "write_json", crash_before_record)
    with pytest.raises(Exception, match="crash between"):
        file_sink.stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    monkeypatch.undo()
    file_sink.stream_rollup_maintenance(spark, src_dir, rollup, ckpt)  # replays
    _assert_rollup_matches(spark, rollup, [seed, extra])


def _land(df, src_dir, name):
    """Land ``df`` in ``src_dir`` as the one parquet file ``name``."""
    import os
    import shutil

    stage = f"{src_dir}.{name}"
    df.coalesce(1).write.parquet(stage)
    part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
    shutil.copy(os.path.join(stage, part), os.path.join(src_dir, name))


def _minhash_gate_case(spark, sf_dir):
    """Two document batches (doc_id < 250, then the rest), the survivors
    the batch operators imply on their union, and a check on the case.
    The second batch holds within-batch near-dup pairs."""
    import __spark_entry__ as entrymod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half1 = docs.where(F.col("doc_id") < 250)
    half2 = docs.where(F.col("doc_id") >= 250)

    # expectations from the BATCH operators (ground truth on the union):
    # within-batch exact dedup keeps min doc_id per text hash ...
    exact = entrymod.queries()["dedup_exact"](spark, sf_dir).collect()
    by_hash: dict = {}
    for r in exact:
        key = (r.text_hash, r.doc_id < 250)
        if key not in by_hash or r.doc_id < by_hash[key]:
            by_hash[key] = r.doc_id
    kept_exact = set(by_hash.values())
    # ... then batch-2 docs near-duplicating ANY half-1 doc are gated
    # (exact dups of a kept half-1 doc share its shingles, so pairs
    # against dropped docs gate identically)
    pairs = entrymod.queries()["dedup_minhash_lsh"](spark, sf_dir).collect()
    gated_b2 = set()
    for r in pairs:
        if r.jaccard < 0.5:
            continue
        lo, hi = r.doc_a, r.doc_b
        if lo < 250 <= hi:
            gated_b2.add(hi)
    want = {d for d in kept_exact if not (d >= 250 and d in gated_b2)}

    def check(out):
        assert gated_b2 & kept_exact, "fixture must actually gate something"

    batches = [("documents_a.parquet", half1), ("documents_b.parquet", half2)]
    return batches, "doc_id", want, check


def _emb_gate_case(spark, sf_dir):
    """Batch A seeds the index; batch B holds exact dups of A, an
    internal dup pair and fresh vectors."""
    import numpy as np

    from sentiment_analysis_vector_search_spark.operators.dedup import (
        emb_candidate_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    fresh = rng.normal(size=(10, 64))
    a_rows = [(i, list(map(float, v))) for i, v in enumerate(base)]
    # batch B: dups of A's first 8 (ids 1001..1008), an internal dup pair
    # (2000, 2001 identical), and 10 fresh vectors (3000..)
    b_ids = list(range(1001, 1009)) + [2000, 2001] + list(range(3000, 3010))
    b_vecs = (
        [list(map(float, base[i])) for i in range(8)]
        + [list(map(float, fresh[0]))] * 2
        + [list(map(float, v)) for v in fresh]
    )
    schema = "vec_id bigint, embedding array<double>"
    batches = [
        ("embeddings_a.parquet", spark.createDataFrame(a_rows, schema)),
        ("embeddings_b.parquet", spark.createDataFrame([*zip(b_ids, b_vecs)], schema)),
    ]
    # all of A survives; B's A-dups (1001-1008) drop; internal pair keeps
    # 2000 only — BUT 2000 duplicates fresh[0] which is also vec 3000:
    # batch order within B resolves via min vec_id → 2000 survives and
    # 3000 drops; 3001.. survive.
    want = set(range(60)) | {2000} | set(range(3001, 3010))

    def check(out):
        # no near-dup pair among survivors
        survivors = spark.read.parquet(out).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        assert emb_candidate_pairs(survivors).count() == 0

    return batches, "vec_id", want, check


_GATE_CASES = {"minhash": _minhash_gate_case, "emb": _emb_gate_case}


def _index_rows(spark, kind, idx):
    """Row count of each directory of a near-dup index."""
    from sentiment_analysis_vector_search_spark.operators.dedup_index import NEAR_DUP

    return {
        d: spark.read.parquet(f"{idx}/{d}").count()
        for d in [*NEAR_DUP[kind].dirs, "bands"]
    }


@pytest.mark.parametrize("kind", ["minhash", "emb"])
def test_stream_dedup_ingest_gates_against_history(spark, sf_dir, tmp_path, kind):
    """Two source files drained in order: the second batch's rows that
    near-duplicate the already-ingested corpus are dropped, within-batch
    duplicates keep the min id, survivors join the index; re-drain is a
    no-op."""
    import os

    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_dedup_ingest,
    )

    batches, key, want, check = _GATE_CASES[kind](spark, sf_dir)
    src_dir, idx, out, ckpt = (
        str(tmp_path / d) for d in ("src", "hist_idx", "clean_corpus", "ingest_ckpt")
    )
    os.makedirs(src_dir)
    for name, df in batches:
        _land(df, src_dir, name)
        stream_dedup_ingest(spark, kind, src_dir, idx, out, ckpt)

    def got_ids():
        return {r[0] for r in spark.read.parquet(out).select(key).collect()}

    assert got_ids() == want
    check(out)

    # idempotent re-drain: no new rows, no index growth
    n_idx = _index_rows(spark, kind, idx)
    stream_dedup_ingest(spark, kind, src_dir, idx, out, ckpt)
    assert got_ids() == want
    assert _index_rows(spark, kind, idx) == n_idx


@pytest.mark.parametrize("kind", ["minhash", "emb"])
def test_stream_dedup_ingest_crash_before_record_is_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """A crash after the second batch's table rows and index directories
    are promoted and before its replay record: the resumed drain must
    leave the table and the index exactly as a crash-free drain does.
    The second batch holds within-batch near-dup pairs, so a replay
    that gated against its own indexed rows would drop them."""
    import os

    from sentiment_analysis_vector_search_spark.streaming import file_sink

    batches, key, _, _ = _GATE_CASES[kind](spark, sf_dir)
    record = {"minhash": "_ingest_commits.json", "emb": "_emb_ingest_commits.json"}
    real = file_sink.write_json

    def crash_before_record(path, obj):
        if path.endswith(record[kind]):
            raise RuntimeError("crash between the promote and the record")
        real(path, obj)

    def drain(root, crash):
        src_dir, idx, out, ckpt = (
            str(tmp_path / root / d) for d in ("src", "idx", "out", "ckpt")
        )
        os.makedirs(src_dir)
        for i, (name, df) in enumerate(batches):
            _land(df, src_dir, name)
            if crash and i == 1:
                monkeypatch.setattr(file_sink, "write_json", crash_before_record)
                with pytest.raises(Exception, match="crash between"):
                    file_sink.stream_dedup_ingest(spark, kind, src_dir, idx, out, ckpt)
                monkeypatch.undo()
            file_sink.stream_dedup_ingest(spark, kind, src_dir, idx, out, ckpt)
        table = spark.read.parquet(out)
        ids = sorted(r[0] for r in table.select(key).collect())
        return table.count(), ids, _index_rows(spark, kind, idx)

    assert drain("crashed", True) == drain("clean", False)


def test_file_sink_loops_never_append_in_place():
    """Every loop append is staged and promoted under batch-stamped names
    (``commit.idempotent_append_dir``), so a replay re-replaces the same
    files. A writer ``.mode("append")`` would append again on replay;
    the file sink's ``.outputMode("append")`` is exactly-once through
    ``_spark_metadata`` and is allowed."""
    import ast

    from sentiment_analysis_vector_search_spark.streaming import file_sink

    tree = ast.parse(open(file_sink.__file__).read())
    appends = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mode"
        and any(
            isinstance(a, ast.Constant) and a.value == "append" for a in node.args
        )
    ]
    assert not appends, f"file_sink.py appends in place at lines {appends}"


def test_stream_stats_maintenance_matches_batch_analyze(spark, sf_dir, tmp_path):
    """Streamed incremental stats must equal a one-shot batch
    partition_stats over the same corpus (counts/min/max exactly, ndv
    within sketch error), and a re-drain must be a no-op (the additive
    fold is guarded by recorded batch ids)."""
    import json
    import os
    import shutil

    from sentiment_analysis_vector_search_spark.stats import (
        kmv_ndv,
        load_sketch,
        partition_stats,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    # seed a source dir with the documents table split into two files so
    # maxFilesPerTrigger=1 produces multiple batches
    src_dir = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    os.makedirs(src_dir)
    # single parquet FILES (the corpus layout the glob source tracks)
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_sketch_maintenance(spark, "analyze", src_dir, stats_dir, ckpt, k=256)

    got = load_sketch("analyze", stats_dir, "documents")
    want = partition_stats(docs, k=256)
    assert got.keys() == want.keys()
    for c in want:
        assert got[c]["n_rows"] == want[c]["n_rows"], c
        assert got[c]["n_nulls"] == want[c]["n_nulls"], c
        assert got[c]["min_value"] == want[c]["min_value"], c
        assert got[c]["max_value"] == want[c]["max_value"], c
    nd_got, nd_want = got["doc_id"]["approx_ndv"], want["doc_id"]["approx_ndv"]
    assert abs(nd_got - nd_want) / max(nd_want, 1) < 0.15

    # re-drain with the same checkpoint: no double-count
    stream_sketch_maintenance(spark, "analyze", src_dir, stats_dir, ckpt, k=256)
    again = load_sketch("analyze", stats_dir, "documents")
    assert again["doc_id"]["n_rows"] == want["doc_id"]["n_rows"]

    # the applied-batch record lives INSIDE the atomically-replaced stats
    # JSON (r8 advice: fold + record are one os.replace, no crash window)
    with open(os.path.join(stats_dir, "documents.json")) as f:
        raw = json.load(f)
    # bounded record (r12): one integer, two files -> max id >= 1
    assert set(raw["__meta__"]) == {"max_applied"}
    recorded = [0, raw["__meta__"]["max_applied"]]
    assert recorded[1] >= 1
    # crash-replay of an ALREADY-RECORDED batch id: the fold is a no-op
    # even without the stream's own guard (the record IS the guard)
    from sentiment_analysis_vector_search_spark.stats import fold_sketch

    fold_sketch(
        "analyze", stats_dir, "documents", docs.limit(50), k=256, batch_id=recorded[0]
    )
    replayed = load_sketch("analyze", stats_dir, "documents")
    assert replayed["doc_id"]["n_rows"] == want["doc_id"]["n_rows"]
    shutil.rmtree(stats_dir)  # and a fresh stats dir rebuilds from zero
    ckpt2 = str(tmp_path / "ckpt2")
    stream_sketch_maintenance(spark, "analyze", src_dir, stats_dir, ckpt2, k=256)
    rebuilt = load_sketch("analyze", stats_dir, "documents")
    assert rebuilt["doc_id"]["n_rows"] == want["doc_id"]["n_rows"]


def test_stream_hot_keys_maintenance(spark, sf_dir, tmp_path):
    """Streamed MG hot-key sketch: the planted heavy value must survive
    with an in-bound count, n_rows must be exact, re-drain must be a
    no-op, and a crash-replayed batch id must not re-fold (the record
    rides inside the sketch JSON's single atomic write)."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.stats import (
        fold_sketch,
        load_sketch,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    def load_hh(stats_dir, name, col):
        art = load_sketch("hotkeys", stats_dir, name, col=col)
        return art["summary"], art["n_rows"]

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    # plant a heavy sentinel source on ~40% of rows, then split into two
    # files so maxFilesPerTrigger=1 yields multiple batches
    planted = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 5 < 2, F.lit("hot-src")).otherwise(
            F.col("source")
        ),
    )
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    planted.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    planted.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_sketch_maintenance(
        spark, "hotkeys", src_dir, stats_dir, ckpt, col="source", k=16
    )

    summary, n_rows = load_hh(stats_dir, "documents", "source")
    assert n_rows == n_docs
    true_hot = planted.where(F.col("source") == "hot-src").count()
    # MG guarantee over the union of folded batches: count > N/k survives,
    # reported count is a lower bound within N/k of truth
    assert "hot-src" in summary
    assert true_hot - n_docs / 16 <= summary["hot-src"] <= true_hot

    # re-drain: checkpoint makes it a no-op
    stream_sketch_maintenance(
        spark, "hotkeys", src_dir, stats_dir, ckpt, col="source", k=16
    )
    again, n2 = load_hh(stats_dir, "documents", "source")
    assert n2 == n_docs and again == summary

    # crash-replay of a RECORDED batch id: the fold is a no-op even
    # without the stream's own guard (the record IS the guard)
    path = os.path.join(stats_dir, "documents__hh_source.json")
    with open(path) as f:
        meta = json.load(f)["__meta__"]
    assert set(meta) == {"max_applied"} and meta["max_applied"] >= 1
    recorded = [0, meta["max_applied"]]
    fold_sketch(
        "hotkeys", stats_dir, "documents", planted, col="source", k=16,
        batch_id=recorded[0],
    )
    after, n3 = load_hh(stats_dir, "documents", "source")
    assert n3 == n_docs and after == summary


def test_stream_cdc_apply_matches_sequential_batch(spark, sf_dir, tmp_path):
    """Streamed CDC apply must equal applying the same change files
    sequentially with batch apply_cdc, and a re-drain must be a no-op
    (apply_cdc is idempotent per identical batch — the replay-safety
    leg that needs no commit record)."""
    import os

    from sentiment_analysis_vector_search_spark.sinks import apply_cdc
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_cdc_apply,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200).cache()
    streamed_dir = str(tmp_path / "streamed")
    batch_dir = str(tmp_path / "batch")
    for d in (streamed_dir, batch_dir):
        docs.repartition("lang").write.partitionBy("lang").parquet(d)

    # two CDC files: updates + deletes, then inserts + a later re-update
    some = docs.limit(20).collect()
    c1 = spark.createDataFrame(
        [
            {**r.asDict(), "text": r.text + " v2", "_op": "U", "_seq": 1}
            for r in some[:10]
        ]
        + [{**r.asDict(), "_op": "D", "_seq": 2} for r in some[10:15]]
    )
    c2 = spark.createDataFrame(
        [
            {
                "doc_id": 10_000_000 + i,
                "text": f"new doc {i}",
                "lang": "en",
                "source": "cdc",
                "n_chars": 9,
                "_op": "I",
                "_seq": 3,
            }
            for i in range(5)
        ]
        + [
            {**some[0].asDict(), "text": some[0].text + " v3", "_op": "U", "_seq": 4}
        ]
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars", "_op", "_seq"]
    cdc_dir = str(tmp_path / "cdc")
    os.makedirs(cdc_dir)
    c1.select(cols).toPandas().to_parquet(f"{cdc_dir}/cdc_001.parquet", index=False)
    c2.select(cols).toPandas().to_parquet(f"{cdc_dir}/cdc_002.parquet", index=False)

    ckpt = str(tmp_path / "ckpt")
    stream_cdc_apply(spark, cdc_dir, streamed_dir, ckpt)
    apply_cdc(spark, batch_dir, c1.select(cols), ["doc_id"], "lang")
    apply_cdc(spark, batch_dir, c2.select(cols), ["doc_id"], "lang")

    def snap(d):
        return sorted(
            (r.doc_id, r.text, r.lang, r.source, r.n_chars)
            for r in spark.read.parquet(d).collect()
        )

    want = snap(batch_dir)
    assert snap(streamed_dir) == want
    # deletes really gone, inserts really in, last-wins re-update applied
    ids = {t[0] for t in want}
    assert not {r.doc_id for r in some[10:15]} & ids
    assert {10_000_000 + i for i in range(5)} <= ids
    text0 = {t[0]: t[1] for t in want}[some[0].doc_id]
    assert text0.endswith(" v3")

    # re-drain: checkpoint makes it a no-op
    stream_cdc_apply(spark, cdc_dir, streamed_dir, ckpt)
    assert snap(streamed_dir) == want


def test_stream_sample_maintenance_equals_one_shot(spark, sf_dir, tmp_path):
    """Streamed bottom-k-hash sample must be BYTE-IDENTICAL to a
    one-shot bottom-k over the full corpus (the min-union mergeability
    claim), quantiles must serve from it, and re-drain + recorded-batch
    replay must be no-ops."""
    import json
    import os

    import numpy as np

    from sentiment_analysis_vector_search_spark.stats import (
        column_bottom_k_sample,
        fold_sketch,
        sample_quantile,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_sketch_maintenance(
        spark, "sample", src_dir, stats_dir, ckpt,
        key_col="doc_id", val_col="n_chars", k=64,
    )

    path = os.path.join(stats_dir, "documents__smp_n_chars.json")
    with open(path) as f:
        raw = json.load(f)
    want = column_bottom_k_sample(docs, "doc_id", "n_chars", k=64)
    assert raw["rows"] == want  # streamed == one-shot, byte-identical

    # quantile serving from the persisted sample tracks the exact value
    vals = [r.n_chars for r in docs.select("n_chars").collect()]
    p50 = sample_quantile(raw["rows"], 0.5)
    exact = float(np.percentile(vals, 50, method="linear"))
    spread = max(vals) - min(vals) or 1
    assert abs(p50 - exact) <= 0.35 * spread

    # re-drain: no-op; recorded-batch replay: no-op
    stream_sketch_maintenance(
        spark, "sample", src_dir, stats_dir, ckpt,
        key_col="doc_id", val_col="n_chars", k=64,
    )
    with open(path) as f:
        again = json.load(f)
    assert again["rows"] == want
    # bounded record (r12 fleet-wide conversion): one integer
    assert set(again["__meta__"]) == {"max_applied"}
    assert again["__meta__"]["max_applied"] >= 1
    fold_sketch(
        "sample", stats_dir, "documents", docs, key_col="doc_id",
        val_col="n_chars", k=64, batch_id=0,
    )
    with open(path) as f:
        assert json.load(f)["rows"] == want


def test_stream_checksum_maintenance_equals_one_shot(spark, sf_dir, tmp_path):
    """Streamed per-batch checksum folds must equal the one-shot graded
    checksum over everything ingested (additive digest + row count), a
    re-drain must be a no-op, and a fresh-checkpoint replay must be
    skipped by the recorded batch ids."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.operators.dq import (
        dq_table_checksum,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    src_dir = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    os.makedirs(src_dir)
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    man_dir = str(tmp_path / "man")
    ckpt = str(tmp_path / "ckpt")
    stream_sketch_maintenance(spark, "checksum", src_dir, man_dir, ckpt)

    with open(os.path.join(man_dir, "documents__checksum.json")) as f:
        man = json.load(f)
    want = dq_table_checksum(spark, sf_dir).collect()[0]
    assert man["n_rows"] == want["n_rows"]
    assert man["checksum"] == want["checksum"]
    # bounded record (r11 advice): one integer, not a growing id list
    assert man["__meta__"] == {"max_applied": 1}

    # re-drain: no new files -> manifest byte-identical
    stream_sketch_maintenance(spark, "checksum", src_dir, man_dir, ckpt)
    with open(os.path.join(man_dir, "documents__checksum.json")) as f:
        assert json.load(f) == man

    # fresh checkpoint: same files re-deliver as the same batch ids —
    # the record inside the manifest must skip the double-fold
    stream_sketch_maintenance(
        spark, "checksum", src_dir, man_dir, str(tmp_path / "ck2")
    )
    with open(os.path.join(man_dir, "documents__checksum.json")) as f:
        again = json.load(f)
    assert again["n_rows"] == want["n_rows"]
    assert again["checksum"] == want["checksum"]


def test_stream_histogram_maintenance_equals_one_shot(spark, sf_dir, tmp_path):
    """Streamed per-batch histogram folds equal a one-shot fixed-width
    histogram over everything ingested; re-drain and fresh-checkpoint
    replay are no-ops; the served quantile matches the graded
    q_value_hist_quantiles estimator arithmetic and tracks the exact
    percentile within one bin width."""
    import json
    import os

    import numpy as np

    from sentiment_analysis_vector_search_spark.catalog import read_events_raw
    from sentiment_analysis_vector_search_spark.stats import (
        column_fixed_histogram,
        hist_quantile,
        load_sketch,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    def drain_hist(spark, src_dir, stats_dir, ckpt):
        stream_sketch_maintenance(
            spark, "hist", src_dir, stats_dir, ckpt, table_name="events", col="value"
        )

    ev = read_events_raw(spark, sf_dir)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ev.where(F.col("event_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/events.parquet", index=False
    )
    ev.where(F.col("event_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/events_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    drain_hist(spark, src_dir, stats_dir, ckpt)

    art = load_sketch("hist", stats_dir, "events", col="value")
    want = column_fixed_histogram(ev, "value")
    assert art["counts"] == want  # streamed == one-shot
    assert art["n_rows"] == sum(want.values())
    assert art["__meta__"] == {"max_applied": 1}

    # re-drain + fresh-checkpoint replay: byte-identical artifact
    path = os.path.join(stats_dir, "events__hist_value.json")
    with open(path) as f:
        before = f.read()
    drain_hist(spark, src_dir, stats_dir, ckpt)
    drain_hist(spark, src_dir, stats_dir, str(tmp_path / "c2"))
    with open(path) as f:
        assert f.read() == before

    # served quantile: same arithmetic as the graded estimator, within
    # one bin width of the exact percentile
    vals = [r["value"] for r in ev.select("value").collect()]
    for q in (0.5, 0.9, 0.99):
        est = hist_quantile(art["counts"], art["width"], q)
        exact = float(np.percentile(vals, q * 100, method="linear"))
        assert abs(est - exact) <= art["width"], (q, est, exact)

    # knob mismatch fails fast (provenance discipline)
    import pytest

    from sentiment_analysis_vector_search_spark.stats import fold_sketch

    with pytest.raises(ValueError, match="knob mismatch"):
        fold_sketch("hist", stats_dir, "events", ev, col="value", width=5.0)


def test_stream_grouped_histogram_maintenance_and_data_card_serving(
    spark, sf_dir, tmp_path
):
    """The grouped artifact's maintenance leg (r13): streamed per-batch
    grouped folds equal the one-shot grouped histogram; replay no-ops;
    and corpus_data_card's serving mode reads its p50/p90 from the
    maintained artifact within one bin width of the exact graded values."""
    import os

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.operators.curation_ext import (
        corpus_data_card,
    )
    from sentiment_analysis_vector_search_spark.stats import (
        column_fixed_histogram_grouped,
        fold_sketch,
        hist_knobs_for,
        load_sketch,
        table_stats,
    )

    # maintenance leg over the events stream source (the shared harness)
    from sentiment_analysis_vector_search_spark.catalog import read_events_raw
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sketch_maintenance,
    )

    ev = read_events_raw(spark, sf_dir)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ev.where(F.col("event_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/events.parquet", index=False
    )
    ev.where(F.col("event_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/events_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    stream_sketch_maintenance(
        spark, "ghist", src_dir, stats_dir, str(tmp_path / "ckpt"),
        table_name="events", group_col="event_type", col="value",
    )
    art = load_sketch("ghist", stats_dir, "events", group_col="event_type", col="value")
    want = column_fixed_histogram_grouped(ev, "event_type", "value")
    assert art["counts"] == want
    assert art["__meta__"] == {"max_applied": 1}
    # replay via a fresh checkpoint: byte-identical
    path = os.path.join(stats_dir, "events__ghist_event_type_value.json")
    with open(path) as f:
        before = f.read()
    stream_sketch_maintenance(
        spark, "ghist", src_dir, stats_dir, str(tmp_path / "c2"),
        table_name="events", group_col="event_type", col="value",
    )
    with open(path) as f:
        assert f.read() == before

    # data-card serving mode: maintain documents (source, n_chars) with
    # DERIVED knobs, then compare served vs the exact graded card
    docs = table(spark, sf_dir, "documents")
    knobs = hist_knobs_for(table_stats(spark, sf_dir, "documents"), "n_chars")
    dstats = str(tmp_path / "dstats")
    fold_sketch(
        "ghist", dstats, "documents", docs, group_col="source", col="n_chars",
        width=knobs["width"], bins=knobs["bins"], offset=knobs["offset"],
        batch_id=0,
    )
    import numpy as np

    exact = {r["source"]: r for r in corpus_data_card(spark, sf_dir).collect()}
    served = {
        r["source"]: r
        for r in corpus_data_card(spark, sf_dir, stats_dir=dstats).collect()
    }
    assert set(served) == set(exact)
    pdf = docs.select("source", "n_chars").toPandas()
    for srcn, r in served.items():
        e = exact[srcn]
        # same card everywhere except the served quantiles
        assert r["n_docs"] == e["n_docs"] and r["top_lang"] == e["top_lang"]
        assert r["lang_entropy"] == e["lang_entropy"]
        # "within one bin width" holds against the estimator's own rank
        # convention (ceil(q*n), numpy inverted_cdf); the card's type-7
        # interpolation may sit anywhere between adjacent order
        # statistics, which no histogram bound can cover
        vals = pdf[pdf["source"] == srcn]["n_chars"]
        for q, cname in ((0.5, "p50_chars"), (0.9, "p90_chars")):
            want = float(np.percentile(vals, q * 100, method="inverted_cdf"))
            assert abs(r[cname] - want) <= knobs["width"], (srcn, q)
