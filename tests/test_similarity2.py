import pytest

from sentiment_analysis_vector_search_spark.commit import SWAP, recover_swaps, staged
from tests.parity import assert_parity
from tests.swaps import stage_copy, torn_swap


def test_ann_pq_parity(spark, sf_dir):
    assert_parity(spark, "ann_pq_adc_topk", sf_dir)


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    """PQ shortlist + exact rerank must hold a recall@10 floor against
    brute force. Measured (sf0.001/0.01/0.1): 0.54/0.62/0.40 — the
    k=|labels|=10 codebook is deliberately coarse (a production run uses
    k=256 per subspace); the floor sits below the worst measurement so a
    codebook/encode regression trips it while honest variance does not."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    brute = {
        (r.query_id, r.vec_id)
        for r in qs["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.vec_id) for r in qs["ann_pq_adc_topk"](spark, sf_dir).collect()
    }
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.3, f"ann_pq_adc_topk: recall@10 {recall:.2f} < 0.3"


def test_pq_rerank_cosines_are_exact(spark, sf_dir):
    """The final scores come from the exact rerank pass, so any (query,
    vec) pair PQ shares with brute force must carry the identical cosine
    — the approximation may only drop pairs, never mis-score them."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    brute = {
        (r.query_id, r.vec_id): r.cosine
        for r in qs["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    pq = qs["ann_pq_adc_topk"](spark, sf_dir).collect()
    assert len(pq) > 0
    for r in pq:
        key = (r.query_id, r.vec_id)
        if key in brute:
            assert r.cosine == pytest.approx(brute[key], abs=1e-9)


def test_pq_ranks_dense_and_bounded(spark, sf_dir):
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    df = entrymod.queries()["ann_pq_adc_topk"](spark, sf_dir)
    per_q = df.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rk").alias("mx"), F.min("rk").alias("mn")
    )
    for r in per_q.collect():
        assert r["n"] <= 10 and r["mn"] == 1 and r["mx"] == r["n"]


def test_pq_codebook_shape(spark, sf_dir):
    """Codebook must hold one sub-centroid per (label, subspace) with
    subdim-length arrays — the broadcast-side contract of the encode."""
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _PQ_M,
        _PQ_SUBDIM,
        _pq_codebook,
    )

    cb = _pq_codebook(spark, sf_dir).collect()
    labels = {r.label for r in cb}
    assert len(cb) == len(labels) * _PQ_M
    for r in cb:
        assert len(r.sc) == _PQ_SUBDIM
        assert 0 <= r.s < _PQ_M


def test_pq_index_build_query_matches_inmemory(spark, sf_dir, tmp_path):
    """Persisted-index query must be byte-identical to the in-memory
    operator for the same (queries, k, rerank); the index must NOT
    contain raw vectors (codes are the compressed representation)."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
    )
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _PQ_M,
        ann_pq_adc_topk,
        ann_pq_index_query,
        build_pq_index,
    )

    idx = str(tmp_path / "pq_idx")
    build_pq_index(spark, sf_dir, idx)

    codes = spark.read.parquet(f"{idx}/codes")
    assert set(codes.columns) == {"vec_id", "nrm", "s", "code"}  # no raw vectors
    n_vecs = _vectors(spark, sf_dir).count()
    assert codes.count() == n_vecs * _PQ_M

    vecs = _vectors(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = sorted(
        (r.query_id, r.vec_id, r.cosine, r.rk)
        for r in ann_pq_index_query(
            # corpus vectors AS queries: the one case where excluding
            # vec_id == query_id is meaningful, so opt in explicitly
            spark, idx, queries, vecs.select("vec_id", "v"), exclude_self=True
        ).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, r.cosine, r.rk)
        for r in ann_pq_adc_topk(spark, sf_dir).collect()
    )
    assert got == want


def test_pq_index_external_query_id_collision_not_excluded(spark, sf_dir, tmp_path):
    """An EXTERNAL query whose query_id happens to equal a corpus vec_id
    must still be able to retrieve that vector (default exclude_self=False;
    r5 advice). Query with vector 0's own embedding under its colliding id:
    vec 0 itself must come back as the top hit."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import _vectors
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        ann_pq_index_query,
        build_pq_index,
    )

    idx = str(tmp_path / "pq_idx_ext")
    build_pq_index(spark, sf_dir, idx)
    vecs = _vectors(spark, sf_dir)
    ext = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    top = (
        ann_pq_index_query(spark, idx, ext, vecs.select("vec_id", "v"), k=1)
        .collect()
    )
    assert len(top) == 1
    assert top[0].vec_id == 0 and top[0].cosine == 1.0


def test_pq_index_incremental_add_matches_rebuild(spark, sf_dir, tmp_path):
    """Half-corpus build + frozen-codebook add of the other half must
    equal the full build exactly (codes are codebook-deterministic)."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import _vectors
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _pq_codebook,
        _pq_encode,
        build_pq_index,
        pq_index_add,
    )

    full_idx = str(tmp_path / "full")
    build_pq_index(spark, sf_dir, full_idx)

    # Incremental: codebook from the full corpus (frozen), codes seeded
    # with the first half, second half appended.
    inc_idx = str(tmp_path / "inc")
    cb = _pq_codebook(spark, sf_dir)
    cb.coalesce(1).write.mode("overwrite").parquet(f"{inc_idx}/codebook")
    vecs = _vectors(spark, sf_dir)
    mid = vecs.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0]
    first = vecs.where(F.col("vec_id") <= mid)
    second = vecs.where(F.col("vec_id") > mid)
    _pq_encode(first, cb).write.mode("overwrite").parquet(f"{inc_idx}/codes")
    pq_index_add(spark, inc_idx, second.select("vec_id", "v"))

    full = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{full_idx}/codes").collect()
    )
    inc = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{inc_idx}/codes").collect()
    )
    assert full == inc


def test_stream_pq_ingest_equals_rebuild(spark, sf_dir, tmp_path):
    """Embedding batches arriving on a stream, applied via foreachBatch
    pq_index_add, must produce a codes table identical to a full rebuild;
    a second drain with no new files must not change it."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        build_pq_index,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_pq_ingest,
    )

    full_dir = str(tmp_path / "pq_full")
    build_pq_index(spark, sf_dir, full_dir)

    stream_idx = str(tmp_path / "pq_stream")
    shutil.copytree(f"{full_dir}/codebook", f"{stream_idx}/codebook")

    src_dir = str(tmp_path / "emb_src")
    ckpt = str(tmp_path / "pq_ckpt")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    os.makedirs(src_dir)
    for tag, pred in (("a", F.col("vec_id") % 2 == 0), ("b", F.col("vec_id") % 2 == 1)):
        staging = str(tmp_path / f"_{tag}")
        emb.where(pred).coalesce(1).write.parquet(staging)
        part = next(n for n in os.listdir(staging) if n.endswith(".parquet"))
        shutil.copy(
            os.path.join(staging, part),
            os.path.join(src_dir, f"embeddings_{tag}.parquet"),
        )
        stream_pq_ingest(spark, src_dir, stream_idx, ckpt)

    full = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{full_dir}/codes").collect()
    )
    streamed = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{stream_idx}/codes").collect()
    )
    assert full == streamed

    # idempotent re-drain: no new files -> codes unchanged
    n_before = spark.read.parquet(f"{stream_idx}/codes").count()
    stream_pq_ingest(spark, src_dir, stream_idx, ckpt)
    assert spark.read.parquet(f"{stream_idx}/codes").count() == n_before


def test_pq_encode_is_layout_invariant(spark, sf_dir):
    """Codes must be a pure function of (vector, codebook) — identical
    under any partitioning/row order, or a 1000-executor run would
    produce a different index than a 10-executor one. The min_by argmin
    key (dist_key, label) is a total order, which is what guarantees it."""
    from sentiment_analysis_vector_search_spark.operators.similarity import _vectors
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _pq_codebook,
        _pq_encode,
    )

    cb = _pq_codebook(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)
    a = sorted(
        (r.vec_id, r.s, r.code)
        for r in _pq_encode(vecs.repartition(3), cb).collect()
    )
    b = sorted(
        (r.vec_id, r.s, r.code)
        for r in _pq_encode(vecs.repartition(17, "vec_id"), cb).collect()
    )
    assert a == b


def test_pq_staged_append_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The exactly-once protocol (r5 advice): stage → batch-stamped
    atomic renames → record. A crash after the renames but BEFORE the
    batch id is recorded makes the stream replay the batch; re-staging
    and re-renaming must overwrite the same destination files, leaving
    the codes table identical to a single application."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        build_pq_index,
        pq_index_add,
    )
    from sentiment_analysis_vector_search_spark.commit import idempotent_append_dir

    idx = str(tmp_path / "pq_idx")
    build_pq_index(spark, sf_dir, idx)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )

    def apply_batch():
        stage = str(tmp_path / "stage_b1")
        pq_index_add(spark, idx, batch, stage_dir=stage)
        idempotent_append_dir(stage, f"{idx}/codes", batch_id=1)

    apply_batch()
    once = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    apply_batch()  # replay: crash happened before the commit record
    twice = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    assert once == twice


def test_compact_index_preserves_pq_codes(spark, sf_dir, tmp_path):
    """PQ twin of the IVF compact test: the flat codes dir compacts to
    one file with the code set byte-identical."""
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import _vectors
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _pq_codebook,
        _pq_encode,
        pq_index_add,
    )
    from sentiment_analysis_vector_search_spark.sinks import compact_index

    idx = str(tmp_path / "pq")
    cb = _pq_codebook(spark, sf_dir)
    cb.coalesce(1).write.mode("overwrite").parquet(f"{idx}/codebook")
    vecs = _vectors(spark, sf_dir)
    _pq_encode(vecs.where(F.col("vec_id") % 3 == 0), cb).write.mode(
        "overwrite"
    ).parquet(f"{idx}/codes")
    for m in (1, 2):
        pq_index_add(spark, idx, vecs.where(F.col("vec_id") % 3 == m).select("vec_id", "v"))
    before = sorted(
        (r.vec_id, r.s, r.code) for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    nb = len([f for f in os.listdir(f"{idx}/codes") if f.endswith(".parquet")])
    removed = compact_index(spark, idx, "pq")
    na = len([f for f in os.listdir(f"{idx}/codes") if f.endswith(".parquet")])
    assert na == 1 and removed == nb - na
    after = sorted(
        (r.vec_id, r.s, r.code) for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    assert after == before


# ---------------------------------------------------------------------------
# PQ codebook lifecycle (r12 verdict #2): drift gate, marker-file swap,
# FULL re-encode, crash recovery, forward-only query opens.
# ---------------------------------------------------------------------------


def _pq_lifecycle_fixtures(spark, sf_dir):
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
    )

    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    queries = _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return vecs, queries


def test_pq_codebook_refresh_gate_swap_and_full_reencode(spark, sf_dir, tmp_path):
    """Gate no-ops under the threshold; a forced refresh commits a clean
    swap whose stored codes equal a FROM-SCRATCH encode against the
    refreshed codebook (the full re-ENCODE invariant — no stale code
    rows survive the swap), and the index still serves with a recall
    floor vs brute force."""
    import os

    import __spark_entry__ as entrymod

    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _norm_vectors,
        _pq_encode,
        ann_pq_index_query,
        build_pq_index,
        pq_codebook_refresh,
        pq_index_drift,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, sf_dir, idx)
    vecs, queries = _pq_lifecycle_fixtures(spark, sf_dir)

    d0 = pq_index_drift(spark, idx, vecs)
    assert d0["n_cells"] >= 2 and 0.0 <= d0["max_drift"] < 1.0
    assert d0["mean_adc_residual"] >= 0.0
    assert d0["max_subspace_residual"] >= d0["mean_adc_residual"] - 1e-12

    out = pq_codebook_refresh(spark, idx, vecs, max_drift=d0["max_drift"] + 1.0)
    assert out["refreshed"] is False
    assert not os.path.exists(os.path.join(idx, SWAP))

    n_before = spark.read.parquet(f"{idx}/codes").count()
    out = pq_codebook_refresh(spark, idx, vecs, force=True)
    assert out["refreshed"] is True
    assert not os.path.exists(os.path.join(idx, SWAP))

    # full re-encode pin: stored codes == encode-from-scratch against
    # the refreshed codebook, row for row
    cb1 = spark.read.parquet(f"{idx}/codebook")
    want = sorted(
        (r.vec_id, r.s, r.code)
        for r in _pq_encode(_norm_vectors(vecs), cb1).collect()
    )
    got = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    assert got == want
    assert len(got) == n_before

    # one Lloyd step must not INCREASE quantization error
    d1 = pq_index_drift(spark, idx, vecs)
    assert d1["mean_adc_residual"] <= d0["mean_adc_residual"] + 1e-9

    # served recall floor after refresh (same floor discipline as
    # test_pq_recall_vs_bruteforce; refresh only tightens centroids)
    brute = {
        (r.query_id, r.vec_id)
        for r in entrymod.queries()["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    got_q = {
        (r.query_id, r.vec_id)
        for r in ann_pq_index_query(
            spark, idx, queries, vecs, exclude_self=True
        ).collect()
    }
    recall = len(brute & got_q) / len(brute)
    assert recall >= 0.3, f"post-refresh recall@10 {recall:.2f} < 0.3"


def test_pq_refresh_crash_recovery(spark, sf_dir, tmp_path):
    """Marker present -> writer recovery rolls FORWARD; marker absent ->
    writer recovery rolls BACK stray staging (both crash states)."""
    import os

    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        build_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, sf_dir, idx)
    cb = os.path.join(idx, "codebook")
    codes = os.path.join(idx, "codes")

    # crash before the marker: staging rolled back, index untouched
    stage_copy(idx, "codebook")
    recover_swaps(idx)
    assert not os.path.isdir(staged(idx, "codebook")) and os.path.isdir(cb)

    # committed refresh, crash mid-swap in the worst state: codebook
    # displaced, its staging not installed, codes untouched
    torn_swap(idx, ("codebook", "codes"), ("codebook",))
    recover_swaps(idx)
    assert not os.path.exists(os.path.join(idx, SWAP))
    assert spark.read.parquet(cb).count() >= 2
    assert spark.read.parquet(codes).count() > 0


def test_pq_query_open_is_forward_only(spark, sf_dir, tmp_path):
    """A query open must complete a COMMITTED torn swap, but must NEVER
    delete uncommitted staging — that directory may belong to a
    refresh that is still writing it (the writer/reader contract,
    SCALING.md rule 37)."""
    import os
    import shutil

    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        ann_pq_index_query,
        build_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, sf_dir, idx)
    vecs, queries = _pq_lifecycle_fixtures(spark, sf_dir)
    cb = os.path.join(idx, "codebook")

    # uncommitted staging (a live refresh mid-write): query works and
    # the staging SURVIVES the open
    stage_copy(idx, "codebook")
    got = ann_pq_index_query(spark, idx, queries, vecs, exclude_self=True)
    assert got.count() > 0
    assert os.path.isdir(staged(idx, "codebook")), "query open deleted live staging"
    shutil.rmtree(os.path.join(idx, SWAP))

    # committed torn swap (writer crashed post-marker with the codebook
    # displaced): the open rolls forward and serves
    torn_swap(idx, ("codebook",), ("codebook",))
    got = ann_pq_index_query(spark, idx, queries, vecs, exclude_self=True)
    assert got.count() > 0
    assert os.path.isdir(cb)
    assert not os.path.exists(os.path.join(idx, SWAP))


def test_pq_refinement_audit_curve(spark, sf_dir):
    """The refinement-factor calibration table (r12 verdict #7c): recall
    is monotone non-decreasing in shortlist size, the largest audited
    size reproduces the production _PQ_RERANK recall (same pipeline), and
    every recall sits in (0, 1]."""
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _PQ_RERANK,
        pq_refinement_audit,
    )

    rows = sorted(
        (r["rerank_n"], r["recall"], r["hits"], r["n_queries"], r["k"])
        for r in pq_refinement_audit(
            spark, sf_dir, rerank_ns=(10, 50, _PQ_RERANK)
        ).collect()
    )
    assert [n for n, *_ in rows] == [10, 50, _PQ_RERANK]
    recalls = [rec for _, rec, *_ in rows]
    assert all(0.0 < r <= 1.0 for r in recalls), recalls
    assert all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:])), recalls
    # the audit's largest point IS the production pipeline's recall
    # (shared encode/LUT/shortlist/rerank machinery)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    brute = {
        (r.query_id, r.vec_id)
        for r in qs["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.vec_id)
        for r in qs["ann_pq_adc_topk"](spark, sf_dir).collect()
    }
    want = len(brute & pq) / len(brute)
    got = dict((n, rec) for n, rec, *_ in rows)[_PQ_RERANK]
    assert abs(got - want) < 1e-9, (got, want)


def test_pq_ingest_drift_refresh_end_to_end(spark, sf_dir, tmp_path):
    """The lifecycle story end to end: build → incremental ingest of a
    SHIFTED batch against the frozen codebook (drift accumulates) →
    drift-gated refresh fires → the refreshed index re-encodes
    everything (including the ingested batch) and still serves."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _vectors,
    )
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _norm_vectors,
        _pq_encode,
        ann_pq_index_query,
        build_pq_index,
        pq_codebook_refresh,
        pq_index_add,
        pq_index_drift,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, sf_dir, idx)
    base = _vectors(spark, sf_dir).select("vec_id", "v")
    d0 = pq_index_drift(spark, idx, base)

    # a shifted ingest batch: same vectors, ids offset, every component
    # pushed toward one corner — the frozen codebook fits it poorly
    shifted = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(0.2) + F.lit(0.8)).alias("v"),
    )
    pq_index_add(spark, idx, shifted)
    full = base.unionByName(shifted)
    d1 = pq_index_drift(spark, idx, full)
    # the poorly-fitting batch must RAISE the drift signal
    assert d1["max_drift"] > d0["max_drift"]
    assert d1["mean_adc_residual"] >= d0["mean_adc_residual"] - 1e-12

    # gate fires at a threshold between the two measurements
    thr = (d0["max_drift"] + d1["max_drift"]) / 2
    out = pq_codebook_refresh(spark, idx, full, max_drift=thr)
    assert out["refreshed"] is True

    # the refreshed index covers base + ingested rows, re-encoded
    cb1 = spark.read.parquet(f"{idx}/codebook")
    want = sorted(
        (r.vec_id, r.s, r.code)
        for r in _pq_encode(_norm_vectors(full), cb1).collect()
    )
    got = sorted(
        (r.vec_id, r.s, r.code)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    assert got == want
    # post-refresh drift of the same corpus is no worse than pre-refresh
    d2 = pq_index_drift(spark, idx, full)
    assert d2["mean_adc_residual"] <= d1["mean_adc_residual"] + 1e-9

    # and it still serves: querying with a shifted vector lands in the
    # shifted cohort at near-1 cosine (the shifted vectors are nearly
    # parallel by construction, so exact self-retrieval is not
    # guaranteed through an approximate shortlist — cohort membership
    # and score are the refresh-health claim)
    q = full.where(F.col("vec_id") == 1_000_000).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    top = ann_pq_index_query(spark, idx, q, full, k=1).collect()
    assert len(top) == 1
    assert top[0].vec_id >= 1_000_000 and top[0].cosine >= 0.99
