import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.commit import SWAP, recover_swaps, staged
from tests.parity import assert_parity
from tests.swaps import Crash, crash_at, stage_copy, torn_swap

SIMILARITY = [
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "rag_retrieve",
    "ann_ivf_filtered_topk",
]


@pytest.mark.parametrize("name", SIMILARITY)
def test_similarity_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_bruteforce_is_recall_ceiling(spark, sf_dir):
    """LSH/IVF results must be subsets of the exact scores (no fabricated hits),
    and recall@10 should be meaningfully nonzero."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    exact = {
        (r["query_id"], r["vec_id"])
        for r in qs["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    for approx_name in ("ann_lsh_topk", "ann_ivf_topk"):
        approx = {
            (r["query_id"], r["vec_id"])
            for r in qs[approx_name](spark, sf_dir).collect()
        }
        recall = len(approx & exact) / len(exact)
        assert recall > 0.2, f"{approx_name} recall@10 = {recall:.2f}"


def test_topk_ranks_dense(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ann_bruteforce_topk"](spark, sf_dir)
    per_q = df.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rk").alias("mx"), F.min("rk").alias("mn")
    )
    for r in per_q.collect():
        assert r["n"] == 10 and r["mn"] == 1 and r["mx"] == 10


def test_ann_ivf_trained_parity(spark, sf_dir):
    from tests.parity import assert_parity

    assert_parity(spark, "ann_ivf_trained_topk", sf_dir)


def test_ivf_index_build_query_matches_inmemory(spark, sf_dir, tmp_path):
    """The persisted index must return byte-identical results to the
    in-memory trained-IVF query for the same (queries, k, nprobe), and
    the probe must open only the probed cells' partition directories."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, index_dir)

    queries = _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = ann_ivf_index_query(spark, index_dir, queries)
    want = entrymod.queries()["ann_ivf_trained_topk"](spark, sf_dir)
    key = ["query_id", "rk"]
    g = sorted(tuple(r) for r in got.select(*key, "vec_id", "cosine").collect())
    w = sorted(tuple(r) for r in want.select(*key, "vec_id", "cosine").collect())
    assert g == w

    # partition pruning: a small probe set reaches the assignment scan as
    # a LITERAL partition filter (inputFiles() ignores partition filters,
    # so assert on the physical plan; the full _N_QUERIES set legitimately
    # covers all 10 cells at this sf, hence 2 queries here)
    import re

    from sentiment_analysis_vector_search_spark.plans import plan_str

    narrow = ann_ivf_index_query(spark, index_dir, queries.where(F.col("query_id") < 2))
    plan = plan_str(narrow)
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    n_probed = len(m.group(1).split(","))
    import os

    n_all = sum(1 for d in os.listdir(f"{index_dir}/assignments") if d.startswith("cell="))
    assert n_probed < n_all, (n_probed, n_all)


def test_ivf_index_incremental_add_equals_rebuild(spark, sf_dir, tmp_path):
    """Index built from half the corpus + ivf_index_add of the other half
    must answer queries identically to an index over the full corpus
    (the codebook is frozen, so assignments are reproducible)."""
    import shutil

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
        ivf_index_add,
    )

    full_dir = str(tmp_path / "ivf_full")
    build_ivf_index(spark, sf_dir, full_dir)

    # incremental index: same codebook, assignments seeded from the even
    # vec_ids, odd vec_ids added as a second batch
    inc_dir = str(tmp_path / "ivf_inc")
    shutil.copytree(f"{full_dir}/codebook", f"{inc_dir}/codebook")
    vecs = _vectors(spark, sf_dir)
    ivf_index_add(spark, inc_dir, vecs.where(F.col("vec_id") % 2 == 0).select("vec_id", "v"))
    ivf_index_add(spark, inc_dir, vecs.where(F.col("vec_id") % 2 == 1).select("vec_id", "v"))

    queries = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = ann_ivf_index_query(spark, inc_dir, queries)
    want = ann_ivf_index_query(spark, full_dir, queries)
    g = sorted(tuple(r) for r in got.select("query_id", "rk", "vec_id", "cosine").collect())
    w = sorted(tuple(r) for r in want.select("query_id", "rk", "vec_id", "cosine").collect())
    assert g == w


def test_stream_ivf_ingest_equals_rebuild(spark, sf_dir, tmp_path):
    """Embedding batches arriving on a stream, applied via foreachBatch
    ivf_index_add, must produce an index identical to a full rebuild —
    and a second drain (no new files) must not change it (checkpoint +
    batch-id guard idempotence)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_ivf_ingest,
    )

    full_dir = str(tmp_path / "ivf_full")
    build_ivf_index(spark, sf_dir, full_dir)

    stream_idx = str(tmp_path / "ivf_stream")
    shutil.copytree(f"{full_dir}/codebook", f"{stream_idx}/codebook")

    src_dir = str(tmp_path / "emb_src")
    ckpt = str(tmp_path / "ivf_ckpt")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(tmp_path / "_a")
    )
    os.makedirs(src_dir)
    part = next(
        n for n in os.listdir(str(tmp_path / "_a")) if n.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(str(tmp_path / "_a"), part),
        os.path.join(src_dir, "embeddings_a.parquet"),
    )
    stream_ivf_ingest(spark, src_dir, stream_idx, ckpt)

    # second batch lands later; only the new file is processed
    emb.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(tmp_path / "_b")
    )
    part = next(
        n for n in os.listdir(str(tmp_path / "_b")) if n.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(str(tmp_path / "_b"), part),
        os.path.join(src_dir, "embeddings_b.parquet"),
    )
    stream_ivf_ingest(spark, src_dir, stream_idx, ckpt)

    queries = _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = ann_ivf_index_query(spark, stream_idx, queries)
    want = ann_ivf_index_query(spark, full_dir, queries)
    g = sorted(tuple(r) for r in got.select("query_id", "rk", "vec_id", "cosine").collect())
    w = sorted(tuple(r) for r in want.select("query_id", "rk", "vec_id", "cosine").collect())
    assert g == w

    # idempotent re-drain: no new files → index unchanged
    n_before = spark.read.parquet(f"{stream_idx}/assignments").count()
    stream_ivf_ingest(spark, src_dir, stream_idx, ckpt)
    assert spark.read.parquet(f"{stream_idx}/assignments").count() == n_before


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    """Quantified approximation contract: the ANN variants must hold a
    recall@10 floor against exact brute force. Measured headroom (sf0.001
    / 0.01 / 0.1): LSH 0.84/0.88/0.80 — 4 OR-bands of 2 bits; IVF
    0.46/0.48/0.40 — nprobe=4 of 16 cells probes 25% of the space, so
    ~0.4 is the honest expectation, raise nprobe to buy recall; trained
    IVF 0.28-0.38 — label-derived codebook, coarser cells. The floors sit
    below the worst measurement so a band-hash or assignment regression
    trips them, while honest variance does not."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    brute = {
        (r.query_id, r.vec_id) for r in qs["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    floors = {
        "ann_lsh_topk": 0.7,
        "ann_ivf_topk": 0.3,
        "ann_ivf_trained_topk": 0.2,
    }
    for name, floor in floors.items():
        approx = {(r.query_id, r.vec_id) for r in qs[name](spark, sf_dir).collect()}
        recall = len(brute & approx) / len(brute)
        assert recall >= floor, f"{name}: recall@10 {recall:.2f} < {floor}"


def test_compact_index_preserves_ivf_answers(spark, sf_dir, tmp_path):
    """compact_index rewrites each cell's per-batch appended files down
    to one; query answers are byte-identical before/after and the file
    count actually drops."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
        ivf_index_add,
    )
    from sentiment_analysis_vector_search_spark.sinks import compact_index

    full_dir = str(tmp_path / "ivf_full")
    build_ivf_index(spark, sf_dir, full_dir)
    idx = str(tmp_path / "ivf_inc")
    shutil.copytree(f"{full_dir}/codebook", f"{idx}/codebook")
    vecs = _vectors(spark, sf_dir)
    for m in range(3):  # three appended batches -> >=3 files per cell
        ivf_index_add(
            spark, idx, vecs.where(F.col("vec_id") % 3 == m).select("vec_id", "v")
        )
    queries = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    before = sorted(
        tuple(r)
        for r in ann_ivf_index_query(spark, idx, queries)
        .select("query_id", "rk", "vec_id", "cosine")
        .collect()
    )
    n_files = lambda: sum(  # noqa: E731
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(f"{idx}/assignments")
    )
    nb = n_files()
    removed = compact_index(spark, idx, "ivf")
    assert removed > 0 and n_files() == nb - removed
    after = sorted(
        tuple(r)
        for r in ann_ivf_index_query(spark, idx, queries)
        .select("query_id", "rk", "vec_id", "cosine")
        .collect()
    )
    assert after == before


def test_filtered_ann_pushdown_filter_and_recall(spark, sf_dir):
    """ann_ivf_filtered_topk: (1) every hit satisfies the metadata
    predicate, (2) the predicate is pushed into the parquet scan
    (pre-filtering, not post-filtering), (3) mean recall@10 against the
    FILTERED brute-force truth holds the same ~nprobe/ncells floor as
    unfiltered IVF (measured means 0.36-0.44 across sf0.001/0.01/0.1)."""
    import os

    import numpy as np
    import pandas as pd

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _FILT_MAX,
        ann_ivf_filtered_topk,
    )
    from sentiment_analysis_vector_search_spark.plans import plan_str

    df = ann_ivf_filtered_topk(spark, sf_dir)
    plan = plan_str(df)
    # predicate reached the scan: PushedFilters mentions label
    assert "PushedFilters" in plan
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("label" in l for l in scan_lines), scan_lines

    rows = df.collect()
    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    lab = dict(zip(emb.vec_id, emb.label))
    for r in rows:
        assert lab[r.vec_id] < _FILT_MAX, (r.vec_id, lab[r.vec_id])

    # mean recall vs filtered brute force
    V = np.stack(emb.embedding.values).astype(np.float64)
    ids = emb.vec_id.values
    allowed = emb.label.values < _FILT_MAX
    got = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = []
    nrm = np.linalg.norm(V, axis=1)
    for qi in np.where(ids < 5)[0]:
        sims = (V @ V[qi]) / (nrm * nrm[qi])
        ok = allowed & (ids != ids[qi])
        top = [ids[j] for j in np.argsort(-sims) if ok[j]][:10]
        recalls.append(len(set(top) & got.get(ids[qi], set())) / 10)
    assert sum(recalls) / len(recalls) >= 0.25, recalls


def test_ivf_codebook_refresh_drift_trigger_and_swap(spark, sf_dir, tmp_path):
    """The r12 lifecycle step: drift measurement, threshold gate, one
    Lloyd-step refresh + full re-assign, and the marker-file swap."""
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
        ivf_codebook_refresh,
        ivf_index_drift,
    )

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, index_dir)

    d0 = ivf_index_drift(spark, index_dir)
    assert d0["n_cells"] >= 2 and 0.0 <= d0["max_drift"] < 1.0
    # gate: threshold above the measured drift -> measurement-only no-op
    out = ivf_codebook_refresh(spark, index_dir, max_drift=d0["max_drift"] + 1.0)
    assert out["refreshed"] is False
    assert not os.path.exists(os.path.join(index_dir, SWAP))

    n_before = spark.read.parquet(f"{index_dir}/assignments").count()
    out = ivf_codebook_refresh(spark, index_dir, force=True)
    assert out["refreshed"] is True
    # swap is complete: no staging/marker leftovers, row count preserved,
    # every vector still assigned to exactly one cell
    assert not os.path.exists(os.path.join(index_dir, SWAP))
    asg = spark.read.parquet(f"{index_dir}/assignments")
    assert asg.count() == n_before
    assert asg.groupBy("vec_id").count().where("count > 1").count() == 0
    # after the refresh each stored centroid IS within one Lloyd step of
    # its members, so drift re-measured against the NEW assignment is
    # finite and the index still serves top-k
    queries = _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = ann_ivf_index_query(spark, index_dir, queries)
    assert got.groupBy("query_id").count().where("count > 0").count() >= 1
    assert got.where("rk > 10").count() == 0


def test_ivf_refresh_crash_recovery(spark, sf_dir, tmp_path):
    """Marker present -> recovery rolls FORWARD to the new index;
    marker absent -> stray staging rolls BACK to the current."""
    import os

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        build_ivf_index,
    )

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, index_dir)
    cb = os.path.join(index_dir, "codebook")
    asg = os.path.join(index_dir, "assignments")

    # uncommitted staging (crash before the marker): rolled back
    stage_copy(index_dir, "codebook")
    recover_swaps(index_dir)
    assert not os.path.isdir(staged(index_dir, "codebook")) and os.path.isdir(cb)

    # committed refresh, crash mid-swap in the WORST state: codebook
    # already displaced, new not yet renamed, assignments untouched ->
    # forward recovery installs the staging everywhere
    torn_swap(index_dir, ("codebook", "assignments"), ("codebook",))
    recover_swaps(index_dir)
    assert not os.path.exists(os.path.join(index_dir, SWAP))
    # index is readable and complete after recovery
    assert spark.read.parquet(cb).count() >= 2
    assert spark.read.parquet(asg).count() > 0


def test_refresh_after_compaction_crash_keeps_every_vector(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A compaction that died between displacing a ``cell=N`` leaf and
    installing its rewrite, then a refresh: the refresh first finishes
    the compaction (one swap root per index), so its full re-assign
    reads, and keeps, every vector."""
    import shutil

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        build_ivf_index,
        ivf_codebook_refresh,
        ivf_index_add,
    )
    from sentiment_analysis_vector_search_spark.sinks import compact_index

    full, idx = str(tmp_path / "full"), str(tmp_path / "inc")
    build_ivf_index(spark, sf_dir, full)
    shutil.copytree(f"{full}/codebook", f"{idx}/codebook")
    vecs = spark.read.parquet(f"{full}/assignments").select("vec_id", "v")
    for i in (0, 1):  # two appends: cells hold several files
        ivf_index_add(spark, idx, vecs.where(F.col("vec_id") % 2 == i))
    want = sorted(r.vec_id for r in vecs.collect())

    crash_at(monkeypatch, 1)  # the install, right after the displacement
    with pytest.raises(Crash):
        compact_index(spark, idx, "ivf")
    monkeypatch.undo()
    ivf_codebook_refresh(spark, idx, force=True)
    got = sorted(r.vec_id for r in spark.read.parquet(f"{idx}/assignments").collect())
    assert got == want


@pytest.mark.parametrize("step", [0, 1])
def test_append_after_compaction_crash_keeps_every_vector(
    spark, sf_dir, tmp_path, monkeypatch, step
):
    """A compaction that died before (step 0) or right after (step 1)
    displacing a ``cell=N`` leaf, then an append: the append finishes the
    compaction first, so the later recovery displaces none of the new
    batch, and every vector is stored exactly once."""
    import shutil

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
    )
    from sentiment_analysis_vector_search_spark.sinks import compact_index

    full, idx = str(tmp_path / "full"), str(tmp_path / "inc")
    build_ivf_index(spark, sf_dir, full)
    shutil.copytree(f"{full}/codebook", f"{idx}/codebook")
    vecs = spark.read.parquet(f"{full}/assignments").select("vec_id", "v")
    for i in (0, 1):  # two appends: cells hold several files
        ivf_index_add(spark, idx, vecs.where(F.col("vec_id") % 3 == i))
    want = sorted(r.vec_id for r in vecs.collect())

    crash_at(monkeypatch, step)
    with pytest.raises(Crash):
        compact_index(spark, idx, "ivf")
    monkeypatch.undo()
    ivf_index_add(spark, idx, vecs.where(F.col("vec_id") % 3 == 2))
    recover_swaps(idx)
    got = sorted(r.vec_id for r in spark.read.parquet(f"{idx}/assignments").collect())
    assert got == want


def test_ivf_query_open_recovers_torn_swap(spark, sf_dir, tmp_path):
    """ann_ivf_index_query completes a committed-but-torn refresh swap
    at open, so readers never see a missing/partial directory."""
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, index_dir)
    cb = os.path.join(index_dir, "codebook")
    # committed refresh crashed with the codebook displaced and its
    # staging not yet installed — a plain read of codebook/ would fail
    torn_swap(index_dir, ("codebook",), ("codebook",))
    queries = _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = ann_ivf_index_query(spark, index_dir, queries)
    assert got.count() > 0
    assert os.path.isdir(cb)
    assert not os.path.exists(os.path.join(index_dir, SWAP))


def test_ivf_query_open_is_forward_only(spark, sf_dir, tmp_path):
    """A query open must NOT delete uncommitted staging — it may
    belong to a refresh that is still writing (the writer/reader
    contract, SCALING.md rule 37); only the refresh writer
    (recover_swaps default mode) rolls staging back."""
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        _N_QUERIES,
        _vectors,
        ann_ivf_index_query,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, index_dir)
    stage_copy(index_dir, "codebook")
    queries = _vectors(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = ann_ivf_index_query(spark, index_dir, queries)
    assert got.count() > 0
    assert os.path.isdir(staged(index_dir, "codebook")), "query open deleted live staging"
    # the writer-side recover is the one that rolls it back
    recover_swaps(index_dir)
    assert not os.path.isdir(staged(index_dir, "codebook"))


def test_one_dot_product_and_refresh_marker_spelling():
    """The left-fold dot product is spelled once (functions/vectors.py)
    and the swap marker file name once (commit.py), so every index kind
    and every caller share them."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "sentiment_analysis_vector_search_spark"
    hits = {
        needle: [
            p.relative_to(pkg).as_posix()
            for p in sorted(pkg.rglob("*.py"))
            for _ in range(p.read_text().count(needle))
        ]
        for needle in ("aggregate(zip_with(", '"commit.json"')
    }
    assert hits == {
        "aggregate(zip_with(": ["functions/vectors.py"],
        '"commit.json"': ["commit.py"],
    }
