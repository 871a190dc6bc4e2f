import pytest

from tests.parity import assert_parity

DEDUP = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
]


@pytest.mark.parametrize("name", DEDUP)
def test_dedup_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_exact_dedup_finds_planted_dups(spark):
    # sf0.1 contains planted exact duplicates (5000 docs, 4992 distinct)
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dedup_exact"](spark, "/root/testdata/sf0.1")
    dups = df.where("is_duplicate").count()
    assert dups == 8


def test_minhash_catches_exact_dups(spark):
    import __spark_entry__ as entrymod

    mh = entrymod.queries()["dedup_minhash_lsh"](spark, "/root/testdata/sf0.1")
    perfect = mh.where("jaccard >= 0.999").count()
    assert perfect >= 8  # every exact dup pair must be an LSH candidate


def test_dedup_components_parity(spark, sf_dir):
    from tests.parity import assert_parity

    assert_parity(spark, "dedup_components", sf_dir)


def test_dedup_components_invariants(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["dedup_components"](spark, sf_dir).collect()
    by_comp = {}
    for r in rows:
        assert r.component <= r.id  # min-label fixpoint
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert all(m.component_size == len(members) for m in members)
        assert min(m.id for m in members) == comp


def test_emb_band_width_knob_keeps_parity():
    """SPARK_GRAFT_EMB_BAND_BITS is the embedding-LSH scale knob (candidate
    volume ~ n^2 / 2^bits per band). The oracle SQL is generated from the
    same import-time constants, so parity must hold at ANY width — run the
    dedup_embedding parity check in a subprocess with a non-default width."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from tests.conftest import SF_DIR\n"
        "from tests.parity import assert_parity\n"
        "from sentiment_analysis_vector_search_spark.session import get_spark\n"
        "from sentiment_analysis_vector_search_spark.operators import dedup, similarity\n"
        "assert dedup._EMB_BAND_BITS == 6, dedup._EMB_BAND_BITS\n"
        "assert len(dedup._EMB_PLANES) == 48\n"
        "assert similarity._LSH_BAND_BITS == 3, similarity._LSH_BAND_BITS\n"
        "assert len(similarity._PLANES) == 12\n"
        "spark = get_spark('band-knob', shuffle_partitions=8)\n"
        "assert_parity(spark, 'dedup_embedding', SF_DIR)\n"
        "assert_parity(spark, 'ann_lsh_topk', SF_DIR)\n"
        "print('BAND_KNOB_OK')\n"
    ) % repo
    env = dict(
        os.environ,
        SPARK_GRAFT_EMB_BAND_BITS="6",
        SPARK_GRAFT_ANN_BAND_BITS="3",
        SPARK_GRAFT_CPUS="4",
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=repo,
    )
    assert "BAND_KNOB_OK" in out.stdout, out.stderr[-2000:]


def test_emb_band_bits_for_scale_math():
    """r7 verdict #2: the stats-informed width keeps expected random
    candidate pairs ~linear in n, never drops below the scale-safe
    default, and is monotone in corpus size."""
    from sentiment_analysis_vector_search_spark.operators.dedup import (
        emb_band_bits_for,
    )

    # never below the default, even for tiny corpora
    assert emb_band_bits_for(0) == 8
    assert emb_band_bits_for(1_000) == 8
    # the linearity invariant: n^2 / 2^(bits+1) <= pairs_per_vector * n
    for n in (10_000, 10**6, 10**8, 10**9):
        bits = emb_band_bits_for(n)
        if bits < 24:  # below the cap the bound must hold exactly
            assert n * n / 2 ** (bits + 1) <= 8.0 * n, (n, bits)
    # monotone, and the published 100 TB guidance (12-24 bits) holds
    widths = [emb_band_bits_for(n) for n in (10**4, 10**6, 10**8, 10**9)]
    assert widths == sorted(widths)
    assert 12 <= emb_band_bits_for(10**8) <= 24
    assert emb_band_bits_for(10**12) == 24  # capped: add bands instead


def test_dedup_index_check_equals_batch_cross_pairs(spark, sf_dir, tmp_path):
    """Index seeded from the even-doc_id half; checking the odd half
    against it must return exactly the cross-half pairs the batch
    minhash operator finds on the full corpus (frozen derivation:
    signatures depend only on a doc's own shingles)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from sentiment_analysis_vector_search_spark.operators.dedup_index import (
        build_dedup_index,
        dedup_index_add,
        dedup_index_check,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    index_dir = str(tmp_path / "dedup_idx")
    build_dedup_index(spark, old, index_dir)

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_index_check(spark, new, index_dir).collect()
    }
    full = entrymod.queries()["dedup_minhash_lsh"](spark, sf_dir).collect()
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in full
        if (r.doc_a % 2) != (r.doc_b % 2)
    }
    assert want, "fixture must contain cross-half near-dup pairs"
    assert got == want

    # after adding the new batch, re-checking it returns the same pairs
    # plus nothing new from its own docs (self-pairs are excluded), and
    # a doc present in the index is not paired with itself
    dedup_index_add(spark, new, index_dir)
    again = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_index_check(spark, new, index_dir).collect()
    }
    intra_new = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in full
        if (r.doc_a % 2) == 1 and (r.doc_b % 2) == 1
    }
    assert again == want | intra_new


def test_dedup_index_stats_consistent(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.dedup_index import (
        build_dedup_index,
        dedup_index_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "stats_idx")
    build_dedup_index(spark, docs, idx)
    stats = dedup_index_stats(spark, idx).collect()
    n_sig_docs = (
        spark.read.parquet(f"{idx}/bands").select("doc_id").distinct().count()
    )
    assert {r.band for r in stats} == {0, 1, 2, 3}
    for r in stats:
        # every signed doc appears exactly once per band
        assert r.n_docs == n_sig_docs
        assert 1 <= r.max_occupancy <= r.n_docs
        assert r.n_buckets <= r.n_docs
        # pair volume is at least what the duplicate groups imply
        assert r.expected_pairs >= 0


def test_minhash_quality_audit(spark, sf_dir):
    """Calibration-table contract: buckets in [0, 9], estimates in [0, 1],
    counts positive, and per-bucket exact means must sit inside the
    bucket's nominal range (the bucketing is by exact_j itself)."""
    from tests.parity import assert_parity

    import __spark_entry__ as entrymod

    rows = entrymod.queries()["dedup_minhash_quality_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.bucket <= 9
        assert r.n_pairs > 0
        assert 0.0 <= r.est_mean <= 1.0
        assert 0.0 <= r.abs_err_mean <= 1.0
        lo, hi = r.bucket / 10.0, (r.bucket + 1) / 10.0
        assert lo <= r.exact_mean <= (1.0 if r.bucket == 9 else hi)
    assert_parity(spark, "dedup_minhash_quality_audit", sf_dir)


def test_dedup_index_check_large_batch_keyed_path(spark, sf_dir, tmp_path):
    """Forcing the batch over the broadcast gate (broadcast_max_bytes=0)
    must take the keyed-join path and return EXACTLY the broadcast
    path's pairs (a backfill-sized batch must not OOM on an
    unconditional broadcast hint)."""
    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.operators.dedup_index import (
        build_dedup_index,
        dedup_index_check,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    index_dir = str(tmp_path / "dedup_idx_gate")
    build_dedup_index(spark, old, index_dir)

    small = dedup_index_check(spark, new, index_dir)
    # gate forced shut: no broadcast HINT from us — the planner may still
    # pick a stats-based broadcast at toy scale, which is exactly the
    # point (its choice respects autoBroadcastJoinThreshold; an
    # unconditional hint does not)
    large = dedup_index_check(spark, new, index_dir, broadcast_max_bytes=0)
    got_small = {(r.doc_a, r.doc_b, r.jaccard) for r in small.collect()}
    got_large = {(r.doc_a, r.doc_b, r.jaccard) for r in large.collect()}
    assert got_small, "fixture must contain cross-half pairs"
    assert got_small == got_large


# ---------------------------------------------------------------------------
# The memoized shingle relation (dedup.shingle_sets): one build per
# (session, corpus), dropped by catalog.refresh, shared by concurrent
# first callers; and the job budget of the curation pass it serves.
# ---------------------------------------------------------------------------

_A = "the quick brown fox jumps over the lazy dog near the river bank today"
_B = "completely different words make up this second document about something else"
CURATION = (
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_ngram_jaccard",
    "dedup_keep_canonical",
)


def _write_docs(spark, sf: str, texts) -> None:
    spark.createDataFrame(
        list(enumerate(texts, 1)), "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")


def _jaccard_pairs(spark, sf: str) -> set:
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dedup_ngram_jaccard"](spark, sf)
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def _count_builds(monkeypatch) -> list:
    from sentiment_analysis_vector_search_spark.operators import dedup

    builds = []
    real = dedup._shingle_relation

    def counting(spark, sf_dir):
        builds.append(sf_dir)
        return real(spark, sf_dir)

    monkeypatch.setattr(dedup, "_shingle_relation", counting)
    return builds


def _jobs_in_group(spark, group: str, fn) -> tuple[int, object]:
    """(jobs ``fn()`` started, its result), ``fn`` run under ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup(group)) - before), out


def test_shingle_relation_built_once_per_corpus(spark, tmp_path, monkeypatch):
    """Two Jaccard calls over one corpus build its shingle relation once;
    the second call starts no job while it is built, and its plan reads
    the memoized relation: no parquet scan, no tokenizing Generate."""
    import __spark_entry__ as entrymod
    from sentiment_analysis_vector_search_spark.plans import plan_str

    sf = str(tmp_path)
    _write_docs(spark, sf, [_A, _A, _B])
    builds = _count_builds(monkeypatch)
    first = _jaccard_pairs(spark, sf)
    n_jobs, df = _jobs_in_group(
        spark, "memo-second", lambda: entrymod.queries()["dedup_ngram_jaccard"](spark, sf)
    )
    assert builds == [sf]
    assert n_jobs == 0
    plan = plan_str(df)
    assert "Scan parquet" not in plan and "Generate" not in plan, plan
    assert {(r.doc_a, r.doc_b) for r in df.collect()} == first == {(1, 2)}


def test_refresh_drops_shingle_relation(spark, tmp_path):
    from sentiment_analysis_vector_search_spark import catalog

    sf = str(tmp_path)
    _write_docs(spark, sf, [_A, _A, _B])
    assert _jaccard_pairs(spark, sf) == {(1, 2)}
    _write_docs(spark, sf, [_A, _B, _A])
    catalog.refresh(spark, sf)
    assert _jaccard_pairs(spark, sf) == {(1, 3)}


def test_concurrent_first_callers_share_one_build(spark, tmp_path, monkeypatch):
    from concurrent.futures import ThreadPoolExecutor

    from sentiment_analysis_vector_search_spark.operators.dedup import shingle_sets

    sf = str(tmp_path)
    _write_docs(spark, sf, [_A, _A, _B])
    builds = _count_builds(monkeypatch)
    with ThreadPoolExecutor(4) as ex:
        got = list(ex.map(lambda _: shingle_sets(spark, sf), range(4)))
    assert all(g is got[0] for g in got)
    assert builds == [sf]


def test_memo_hit_does_not_wait_for_a_build(spark, tmp_path):
    """A memo hit returns while another thread holds the build lock (a
    first build of some other corpus)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from sentiment_analysis_vector_search_spark import catalog
    from sentiment_analysis_vector_search_spark.operators.dedup import shingle_sets

    sf = str(tmp_path)
    _write_docs(spark, sf, [_A, _A, _B])
    first = shingle_sets(spark, sf)
    held, release = threading.Event(), threading.Event()

    def hold_lock():
        with catalog._BUILD_LOCK:
            held.set()
            release.wait(60)

    holder = threading.Thread(target=hold_lock)
    holder.start()
    held.wait()
    ex = ThreadPoolExecutor(1)
    try:
        assert ex.submit(shingle_sets, spark, sf).result(timeout=20) is first
    finally:
        release.set()
        holder.join()
        ex.shutdown()


def test_curation_pass_job_budget(spark, sf_dir):
    """The second pass of the four curation calls over one corpus, each
    frame collected, runs at most 36 jobs (10 MinHash, 3 containment,
    3 Jaccard, 20 keep-canonical), the count measured on this fixture.
    Before the shingle relation was memoized with its df and size
    columns, each call re-derived it behind its own cut and re-aggregated
    sizes and doc frequency: the same pass ran 59 jobs."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def curation_pass():
        for name in CURATION:
            queries[name](spark, sf_dir).collect()

    curation_pass()
    n_jobs, _ = _jobs_in_group(spark, "curation-pass", curation_pass)
    assert 0 < n_jobs <= 36, n_jobs
