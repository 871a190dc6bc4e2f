"""Per-job orchestration (jobs.py): main_api.run_analysis_pipeline parity —
stage artifacts committed per job dir, manifest as the atomic success
marker, incomplete jobs surfaced, old jobs expirable."""

import os
import re

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.jobs import (
    list_jobs,
    read_job_artifact,
    run_analysis_job,
)
from sentiment_analysis_vector_search_spark.operators import sentiment_ops
from sentiment_analysis_vector_search_spark.plans import plan_str
from sentiment_analysis_vector_search_spark.registry import QUERIES


def test_job_artifacts_match_operators(spark, sf_dir, tmp_path):
    import __spark_entry__ as entrymod

    jobs_root = str(tmp_path / "jobs")
    manifest = run_analysis_job(spark, sf_dir, jobs_root, "job-001")
    assert manifest["status"] == "succeeded"
    assert os.path.exists(os.path.join(jobs_root, "job-001", "manifest.json"))

    qs = entrymod.queries()
    for stage, n in manifest["stages"].items():
        art = read_job_artifact(spark, jobs_root, "job-001", stage)
        assert art.count() == n
        live = qs[stage](spark, sf_dir)
        # artifact values = the (driver/oracle-verified) operator's output
        a = sorted(map(tuple, art.collect()))
        b = sorted(map(tuple, live.collect()))
        assert a == b, stage


def test_job_runs_under_callers_job_group(spark, sf_dir, tmp_path):
    """Every Spark job of the analysis job, the side-by-side stage writes
    included, carries the caller's job group, and the stages share one
    classification (46 jobs when each stage classified and re-read its
    artifact to count it)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    grouped = set(tracker.getJobIdsForGroup("g"))
    sc.setJobGroup("g", "analysis job", False)
    try:
        run_analysis_job(spark, sf_dir, str(tmp_path / "jobs"), "job-g")
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert 0 < len(set(tracker.getJobIdsForGroup("g")) - grouped) <= 24


def _plan(df) -> str:
    # expression ids, lambda variables and AQE plan ids count up per
    # construction
    return re.sub(r"#\d+|\bx_\d+|plan_id=\d+", "", plan_str(df))


def test_shared_classification_does_not_leak(spark, sf_dir, tmp_path):
    before = _plan(QUERIES["sent_classify"](spark, sf_dir))
    run_analysis_job(spark, sf_dir, str(tmp_path / "jobs"), "job-scope")
    assert sentiment_ops._SHARED.get() is None
    assert _plan(QUERIES["sent_classify"](spark, sf_dir)) == before


def _fails_at_construct(spark, sf_dir):
    raise ValueError("stage failed")


def _fails_at_exec(spark, sf_dir):
    boom = F.raise_error(F.lit("stage failed"))
    return spark.range(4).select(
        F.when(F.col("id") == 2, boom).otherwise(F.col("id")).alias("id")
    )


@pytest.mark.parametrize("broken", [_fails_at_construct, _fails_at_exec])
def test_failed_stage_fails_job_without_manifest(spark, sf_dir, tmp_path, monkeypatch, broken):
    """A stage that fails, while being built or while its write runs next
    to the others, fails the whole job: no manifest, listed incomplete,
    and the shared classification is gone."""
    monkeypatch.setitem(QUERIES, "top_words", broken)
    jobs_root = str(tmp_path / "jobs")
    with pytest.raises(Exception, match="stage failed"):
        run_analysis_job(spark, sf_dir, jobs_root, "job-bad")
    assert not os.path.exists(os.path.join(jobs_root, "job-bad", "manifest.json"))
    assert list_jobs(jobs_root) == [{"job_id": "job-bad", "status": "incomplete"}]
    assert sentiment_ops._SHARED.get() is None


def test_job_manifest_is_success_marker(spark, sf_dir, tmp_path):
    jobs_root = str(tmp_path / "jobs")
    run_analysis_job(spark, sf_dir, jobs_root, "done", stages=("sent_distribution",))
    # simulate a crashed job: stage dir exists, no manifest
    os.makedirs(os.path.join(jobs_root, "crashed", "sent_distribution"))

    listed = {j["job_id"]: j["status"] for j in list_jobs(jobs_root)}
    assert listed == {"done": "succeeded", "crashed": "incomplete"}

    with pytest.raises(FileNotFoundError):
        read_job_artifact(spark, jobs_root, "crashed", "sent_distribution")


def test_old_jobs_expirable_via_sinks(spark, sf_dir, tmp_path):
    """cleanup_old_jobs.py parity end-to-end: job dirs are plain
    directories, so retention is directory removal of everything not in
    the keep-set — here driven by the jobs listing."""
    import shutil

    jobs_root = str(tmp_path / "jobs")
    for jid in ("job-20240101", "job-20260101"):
        run_analysis_job(spark, sf_dir, jobs_root, jid, stages=("sent_distribution",))
    keep_from = "job-20250000"
    for j in list_jobs(jobs_root):
        if j["job_id"] < keep_from:
            shutil.rmtree(os.path.join(jobs_root, j["job_id"]))
    assert [j["job_id"] for j in list_jobs(jobs_root)] == ["job-20260101"]


def test_cli_index_build(spark, sf_dir, tmp_path):
    """`python -m … index <kind> <dir>` must materialize each persisted
    index layout (the north star's batch index build as one command)."""
    import os

    from sentiment_analysis_vector_search_spark.__main__ import main

    for kind, parts in (
        ("ivf", {"codebook", "assignments"}),
        ("pq", {"codebook", "codes"}),
        ("ivfpq", {"coarse_codebook", "pq_codebook", "codes"}),
        ("dedup", {"bands", "shingles", "sizes"}),
    ):
        out = str(tmp_path / kind)
        assert main(["index", kind, out, "--sf-dir", sf_dir]) == 0
        assert set(os.listdir(out)) >= parts, kind


def test_cli_knn_search(spark, sf_dir, tmp_path, capsys):
    """`knn <kind> <index>` must serve a top-k answer that matches the
    library query path for every persisted ANN index kind."""
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main

    emb = f"{sf_dir}/embeddings.parquet"
    for kind in ("ivf", "pq", "ivfpq"):
        out = str(tmp_path / f"{kind}_idx")
        assert main(["index", kind, out, "--sf-dir", sf_dir]) == 0
        rc = main(
            ["knn", kind, out, "--vectors-dir", emb, "--query-vec-id", "1", "--k", "5"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert 0 < len(rows) <= 5
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        assert all(r["vec_id"] != 1 for r in rows)  # self excluded


def test_empty_stages_job_still_commits_manifest(spark, sf_dir, tmp_path):
    """stages=() must produce an empty-success manifest, not crash on a
    missing job dir."""
    jobs_root = str(tmp_path / "jobs")
    manifest = run_analysis_job(spark, sf_dir, jobs_root, "job-empty", stages=())
    assert manifest["status"] == "succeeded"
    assert manifest["stages"] == {}
    assert list_jobs(jobs_root) == [manifest]


def test_corrupt_manifest_reported_incomplete(spark, sf_dir, tmp_path):
    """A truncated manifest.json (crash mid-damage) downgrades the job to
    'incomplete' in the listing instead of raising."""
    jobs_root = str(tmp_path / "jobs")
    run_analysis_job(spark, sf_dir, jobs_root, "job-ok", stages=("run_metrics",))
    bad_dir = os.path.join(jobs_root, "job-bad")
    os.makedirs(bad_dir)
    with open(os.path.join(bad_dir, "manifest.json"), "w") as f:
        f.write('{"job_id": "job-bad", "status": "succ')  # truncated
    listed = {m["job_id"]: m["status"] for m in list_jobs(jobs_root)}
    assert listed == {"job-ok": "succeeded", "job-bad": "incomplete"}


def test_cli_vacuum_and_job_list(spark, sf_dir, tmp_path, capsys):
    """`vacuum` runs expire + orphan cleanup in one command and reports
    the surviving versions; `job list` prints the manifests as JSON."""
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.sinks import commit_snapshot

    root = str(tmp_path / "snap")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for _ in range(3):
        commit_snapshot(orders.limit(10), root)
    # crashed commit debris
    orders.limit(5).write.parquet(os.path.join(root, "data", "commit-99999"))

    assert main(["vacuum", root, "--keep-last", "1", "--orphan-grace", "0"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["versions_kept"] == [3]
    assert any("commit-99999" in p for p in out["deleted"])

    jobs_root = str(tmp_path / "jobs")
    run_analysis_job(spark, sf_dir, jobs_root, "job-cli", stages=("run_metrics",))
    assert main(["job", "list", jobs_root]) == 0
    listed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [m["job_id"] for m in listed] == ["job-cli"]


def test_cli_optimize_verb(spark, tmp_path, capsys):
    import json
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.__main__ import main

    path = str(tmp_path / "t")
    df = spark.range(0, 500).select(
        (F.col("id") % 32).alias("a"), (F.col("id") % 7).alias("b"), "id"
    )
    for i in range(5):
        df.where(F.col("id") % 5 == i).coalesce(1).write.mode("append").parquet(path)
    assert main(["optimize", path, "a,b", "--n-files", "2", "--bits", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"files": 2}
    assert sum(1 for n in os.listdir(path) if n.endswith(".parquet")) == 2
    assert spark.read.parquet(path).count() == 500


def test_cli_pq_and_ivfpq_refresh_verbs(spark, sf_dir, tmp_path, capsys):
    """`pq-refresh` / `ivfpq-refresh` run the codebook lifecycle end to
    end from the CLI: measurement-only under a high threshold, a real
    swap under --force, and a still-serving index afterwards."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.__main__ import main

    for kind, refresh in (("pq", "pq-refresh"), ("ivfpq", "ivfpq-refresh")):
        out = str(tmp_path / f"{kind}_r")
        assert main(["index", kind, out, "--sf-dir", sf_dir]) == 0
        rc = main([refresh, out, "--sf-dir", sf_dir, "--max-drift", "10.0"])
        assert rc == 0
        meas = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert meas["refreshed"] is False and meas["max_drift"] < 10.0
        rc = main([refresh, out, "--sf-dir", sf_dir, "--force"])
        assert rc == 0
        done = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert done["refreshed"] is True
        assert not os.path.exists(os.path.join(out, "_swap"))
        emb = f"{sf_dir}/embeddings.parquet"
        rc = main(
            ["knn", kind, out, "--vectors-dir", emb, "--query-vec-id", "1", "--k", "5"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert 0 < len(rows) <= 5
