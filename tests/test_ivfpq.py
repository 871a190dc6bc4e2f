"""Composed IVF-PQ serving index: full-probe byte-identity to the flat
PQ index (the IVF layer prunes nothing when every cell is probed),
recall floor at the default probe, add ≡ rebuild against frozen
codebooks, and static cell pruning in the physical plan."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.commit import SWAP, recover_swaps, staged
from sentiment_analysis_vector_search_spark.operators.ivfpq import (
    ann_ivfpq_index_query,
    build_ivfpq_index,
    ivfpq_index_add,
)
from sentiment_analysis_vector_search_spark.operators.similarity import (
    _N_QUERIES,
    _vectors,
)
from tests.swaps import Crash, crash_at, stage_copy, torn_swap


def _queries(spark, sf_dir):
    return _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _rows(df):
    return sorted((r.query_id, r.rk, r.vec_id, r.cosine) for r in df.collect())


def test_full_probe_equals_flat_pq_index(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        ann_pq_index_query,
        build_pq_index,
    )

    ivfpq_dir = str(tmp_path / "ivfpq")
    pq_dir = str(tmp_path / "pq")
    build_ivfpq_index(spark, sf_dir, ivfpq_dir)
    build_pq_index(spark, sf_dir, pq_dir)

    n_cells = spark.read.parquet(f"{ivfpq_dir}/coarse_codebook").count()
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    q = _queries(spark, sf_dir)
    got = _rows(
        ann_ivfpq_index_query(
            spark, ivfpq_dir, q, vecs, nprobe=n_cells, exclude_self=True
        )
    )
    want = _rows(ann_pq_index_query(spark, pq_dir, q, vecs, exclude_self=True))
    assert got == want


def test_default_probe_recall_floor_and_exact_scores(spark, sf_dir, tmp_path):
    import __spark_entry__ as entrymod

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx)
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    got = ann_ivfpq_index_query(
        spark, idx, _queries(spark, sf_dir), vecs, exclude_self=True
    ).collect()
    brute = {
        (r.query_id, r.vec_id): r.cosine
        for r in entrymod.queries()["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    hits = {(r.query_id, r.vec_id) for r in got}
    recall = len(hits & set(brute)) / len(brute)
    # double approximation (cell prune + coarse PQ) sits below flat PQ's
    # 0.3 floor; the point of the floor is catching encode regressions
    assert recall >= 0.2, f"ivfpq recall@10 {recall:.2f} < 0.2"
    # scores come from the exact rerank: any pair shared with brute
    # force must carry the identical cosine
    for r in got:
        key = (r.query_id, r.vec_id)
        if key in brute:
            assert r.cosine == pytest.approx(brute[key], abs=1e-9)


def test_incremental_add_equals_rebuild(spark, sf_dir, tmp_path):
    full = str(tmp_path / "full")
    build_ivfpq_index(spark, sf_dir, full)

    inc = str(tmp_path / "inc")
    os.makedirs(inc)
    shutil.copytree(f"{full}/coarse_codebook", f"{inc}/coarse_codebook")
    shutil.copytree(f"{full}/pq_codebook", f"{inc}/pq_codebook")
    vecs = _vectors(spark, sf_dir)
    ivfpq_index_add(
        spark, inc, vecs.where(F.col("vec_id") % 2 == 0).select("vec_id", "v")
    )
    ivfpq_index_add(
        spark, inc, vecs.where(F.col("vec_id") % 2 == 1).select("vec_id", "v")
    )

    q = _queries(spark, sf_dir)
    prim = vecs.select("vec_id", "v")
    assert _rows(ann_ivfpq_index_query(spark, inc, q, prim)) == _rows(
        ann_ivfpq_index_query(spark, full, q, prim)
    )


def test_stream_ivfpq_ingest_equals_rebuild(spark, sf_dir, tmp_path):
    """Embedding batches on a stream, applied via foreachBatch
    ivfpq_index_add, must produce a codes table identical to a full
    rebuild; a re-drain with no new files must not change it."""
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_ivfpq_ingest,
    )

    full_dir = str(tmp_path / "full")
    build_ivfpq_index(spark, sf_dir, full_dir)

    stream_idx = str(tmp_path / "streamed")
    os.makedirs(stream_idx)
    shutil.copytree(f"{full_dir}/coarse_codebook", f"{stream_idx}/coarse_codebook")
    shutil.copytree(f"{full_dir}/pq_codebook", f"{stream_idx}/pq_codebook")

    src_dir = str(tmp_path / "emb_src")
    ckpt = str(tmp_path / "ckpt")
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
        stream_ivfpq_ingest(spark, src_dir, stream_idx, ckpt)

    def codes(d):
        return sorted(
            (r.vec_id, r.s, r.code, r.cell)
            for r in spark.read.parquet(f"{d}/codes").collect()
        )

    assert codes(stream_idx) == codes(full_dir)

    n_before = spark.read.parquet(f"{stream_idx}/codes").count()
    stream_ivfpq_ingest(spark, src_dir, stream_idx, ckpt)
    assert spark.read.parquet(f"{stream_idx}/codes").count() == n_before


def test_compact_preserves_answers(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.sinks import compact_index

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx)
    q = _queries(spark, sf_dir)
    prim = _vectors(spark, sf_dir).select("vec_id", "v")
    before = _rows(ann_ivfpq_index_query(spark, idx, q, prim))
    compact_index(spark, idx, "ivfpq")
    assert _rows(ann_ivfpq_index_query(spark, idx, q, prim)) == before


def test_compact_crash_hides_staging(spark, sf_dir, tmp_path, monkeypatch):
    """A process death in the middle of compacting a ``cell=N`` leaf
    leaves nothing a reader takes for data: no duplicate code row and an
    integer ``cell``. Writer recovery then holds every code row once."""
    from sentiment_analysis_vector_search_spark.sinks import compact_index

    full, idx = str(tmp_path / "full"), str(tmp_path / "inc")
    build_ivfpq_index(spark, sf_dir, full)
    for name in ("coarse_codebook", "pq_codebook"):
        shutil.copytree(f"{full}/{name}", f"{idx}/{name}")
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    for i in (0, 1):  # two appends: cells hold several files
        ivfpq_index_add(spark, idx, vecs.where(F.col("vec_id") % 2 == i))
    codes = f"{idx}/codes"

    def rows():  # one code row per (vector, subspace)
        return sorted((r.vec_id, r.s) for r in spark.read.parquet(codes).collect())

    want = rows()
    assert len(want) == len(set(want))

    crash_at(monkeypatch, 0)  # the compaction's first rename
    with pytest.raises(Crash):
        compact_index(spark, idx, "ivfpq")
    monkeypatch.undo()
    seen = spark.read.parquet(codes)
    assert dict(seen.dtypes)["cell"] == "int"
    got = rows()
    assert len(got) == len(set(got))

    recover_swaps(idx)  # the index's writer recovery covers its leaves
    assert rows() == want


def test_codes_scan_is_cell_pruned(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.plans import plan_str

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx)
    codes = spark.read.parquet(f"{idx}/codes")
    assert set(codes.columns) == {"vec_id", "nrm", "s", "code", "cell"}  # no raw v

    narrow = ann_ivfpq_index_query(
        spark,
        idx,
        _queries(spark, sf_dir).where(F.col("query_id") < 2),
        _vectors(spark, sf_dir).select("vec_id", "v"),
    )
    plan = plan_str(narrow)
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    n_probed = len(m.group(1).split(","))
    n_all = sum(1 for d in os.listdir(f"{idx}/codes") if d.startswith("cell="))
    assert n_probed < n_all, (n_probed, n_all)


# ---------------------------------------------------------------------------
# IVFPQ codebook lifecycle (r12 verdict #2): both codebooks re-train,
# codes fully re-assigned AND re-encoded, three-directory swap, crash
# recovery, forward-only query opens.
# ---------------------------------------------------------------------------

_IVFPQ_LIFECYCLE_DIRS = ("coarse_codebook", "pq_codebook", "codes")


def test_ivfpq_codebook_refresh_swap_and_full_rebuild(spark, sf_dir, tmp_path):
    """Forced refresh: clean swap over all three directories; stored
    codes equal a from-scratch re-assign (new coarse codebook) +
    re-encode (new PQ codebook) of the primary store; the index still
    serves with a recall floor vs brute force."""
    import __spark_entry__ as entrymod

    from pyspark.sql import Window

    from sentiment_analysis_vector_search_spark.functions.vectors import dot as _dot
    from sentiment_analysis_vector_search_spark.operators.ivfpq import (
        ivfpq_codebook_refresh,
        ivfpq_index_drift,
    )
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        _norm_vectors,
        _pq_encode,
    )

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx)
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    q = _queries(spark, sf_dir)

    d0 = ivfpq_index_drift(spark, idx, vecs)
    assert d0["coarse_n_cells"] >= 2 and d0["pq_n_cells"] >= 2
    assert 0.0 <= d0["max_drift"] < 1.0
    out = ivfpq_codebook_refresh(spark, idx, vecs, max_drift=d0["max_drift"] + 1.0)
    assert out["refreshed"] is False

    n_before = spark.read.parquet(f"{idx}/codes").count()
    out = ivfpq_codebook_refresh(spark, idx, vecs, force=True)
    assert out["refreshed"] is True
    assert not os.path.exists(os.path.join(idx, SWAP))

    # full rebuild pin: stored codes == assign+encode from scratch
    # against BOTH refreshed codebooks
    coarse1 = spark.read.parquet(f"{idx}/coarse_codebook")
    pq1 = spark.read.parquet(f"{idx}/pq_codebook")
    nv = _norm_vectors(vecs)
    sim = _dot("v", "c") / (F.col("nrm") * F.col("cn"))
    wv = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("label"))
    assigned = (
        nv.crossJoin(F.broadcast(coarse1))
        .withColumn("sim", sim)
        .withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select("vec_id", F.col("label").alias("cell"))
    )
    want = sorted(
        (r.vec_id, r.s, r.code, r.cell)
        for r in _pq_encode(nv, pq1).join(assigned, "vec_id").collect()
    )
    got = sorted(
        (r.vec_id, r.s, r.code, r.cell)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    )
    assert got == want
    assert len(got) == n_before

    brute = {
        (r.query_id, r.vec_id)
        for r in entrymod.queries()["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    served = {
        (r.query_id, r.vec_id)
        for r in ann_ivfpq_index_query(
            spark, idx, q, vecs, exclude_self=True
        ).collect()
    }
    recall = len(brute & served) / len(brute)
    assert recall >= 0.25, f"post-refresh recall@10 {recall:.2f} < 0.25"


def test_ivfpq_refresh_crash_recovery_and_forward_only_open(spark, sf_dir, tmp_path):
    """Writer recovery handles both crash states over the three
    directories; a query open never deletes uncommitted staging."""

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx)
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    q = _queries(spark, sf_dir)

    # uncommitted staging: query-open leaves it; writer recovery removes
    stage_copy(idx, "coarse_codebook")
    got = ann_ivfpq_index_query(spark, idx, q, vecs, exclude_self=True)
    assert got.count() > 0
    assert os.path.isdir(staged(idx, "coarse_codebook")), "query open deleted live staging"
    recover_swaps(idx)
    assert not os.path.isdir(staged(idx, "coarse_codebook"))

    # committed, crash mid-swap in the worst state: both codebooks
    # displaced, codes staged but not installed
    torn_swap(idx, _IVFPQ_LIFECYCLE_DIRS, ("coarse_codebook", "pq_codebook"))
    got = ann_ivfpq_index_query(spark, idx, q, vecs, exclude_self=True)
    assert got.count() > 0  # the open itself rolled the swap forward
    for name in _IVFPQ_LIFECYCLE_DIRS:
        assert os.path.isdir(os.path.join(idx, name))
    assert not os.path.exists(os.path.join(idx, SWAP))


def test_ivfpq_refinement_audit_grid(spark, sf_dir, tmp_path):
    """The composed calibration grid (r13): recall monotone along the
    rerank axis within each nprobe; full-probe + max-rerank reproduces
    the serving path's recall; all recalls in (0, 1]."""
    from sentiment_analysis_vector_search_spark.operators.ivfpq import (
        ivfpq_refinement_audit,
    )

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx)
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    q = _queries(spark, sf_dir)
    n_cells = spark.read.parquet(f"{idx}/coarse_codebook").count()

    grid = {
        (r["nprobe"], r["rerank_n"]): r["recall"]
        for r in ivfpq_refinement_audit(
            spark, idx, q, vecs,
            nprobes=(1, n_cells), rerank_ns=(10, 100),
            exclude_self=True,
        ).collect()
    }
    assert len(grid) == 4
    assert all(0.0 < v <= 1.0 for v in grid.values()), grid
    # monotone along rerank within each nprobe (guaranteed: exact top-k
    # over a candidate superset only swaps true neighbors for better)
    assert grid[(1, 10)] <= grid[(1, 100)] + 1e-12
    assert grid[(n_cells, 10)] <= grid[(n_cells, 100)] + 1e-12
    # full probe sees a candidate superset of the narrow probe
    assert grid[(n_cells, 100)] >= grid[(1, 100)] - 1e-12

    # the grid's (default-ish) corner reproduces the serving path
    import __spark_entry__ as entrymod

    brute = {
        (r.query_id, r.vec_id)
        for r in entrymod.queries()["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    served = {
        (r.query_id, r.vec_id)
        for r in ann_ivfpq_index_query(
            spark, idx, q, vecs, nprobe=n_cells, rerank_n=100,
            exclude_self=True,
        ).collect()
    }
    want = len(brute & served) / len(brute)
    assert abs(grid[(n_cells, 100)] - want) < 1e-9, (grid, want)


def test_ivfpq_drift_equals_ivf_and_pq_drift(spark, sf_dir, tmp_path):
    """Built from the same corpus, the composed index's coarse layer is
    the IVF index and its code layer the PQ index: ivfpq_index_drift's
    coarse_* fields equal ivf_index_drift, its pq_* fields equal
    pq_index_drift, and the gate is the max of the two."""
    from sentiment_analysis_vector_search_spark.operators.ivfpq import (
        ivfpq_index_drift,
    )
    from sentiment_analysis_vector_search_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_drift,
    )
    from sentiment_analysis_vector_search_spark.operators.similarity2 import (
        build_pq_index,
        pq_index_drift,
    )

    dirs = {kind: str(tmp_path / kind) for kind in ("ivf", "pq", "ivfpq")}
    build_ivf_index(spark, sf_dir, dirs["ivf"])
    build_pq_index(spark, sf_dir, dirs["pq"])
    build_ivfpq_index(spark, sf_dir, dirs["ivfpq"])
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")

    both = ivfpq_index_drift(spark, dirs["ivfpq"], vecs)
    ivf = ivf_index_drift(spark, dirs["ivf"])
    pq = pq_index_drift(spark, dirs["pq"], vecs)
    for key in ("max_drift", "mean_drift", "n_cells"):
        assert both[f"coarse_{key}"] == ivf[key]
        assert both[f"pq_{key}"] == pq[key]
    assert both["mean_adc_residual"] == pytest.approx(
        pq["mean_adc_residual"], rel=1e-12
    )
    assert both["max_drift"] == max(ivf["max_drift"], pq["max_drift"])
