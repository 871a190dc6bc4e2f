"""Per-job orchestration: the reference's analysis-job lifecycle as one
composed Spark run.

Reference parity: ``main_api.py:92`` (``run_analysis_pipeline``) drives a
job through extract → sentiment analysis → summaries → insurance risk,
writing each stage's artifact into a per-job output dir
(``pipeline_helpers.py:63`` ``setup_analysis_directories``,
``pipeline_helpers.py:172`` ``calculate_and_save_insurance_risk`` —
``performance_summary.json`` / ``sentiment_trends.json`` /
``insurance_risk.json``), finalizing a status record, and expiring old
job dirs (``cleanup_old_jobs.py``, covered by ``sinks.expire_partitions``).

This module is the distributed analog: every stage is one of the
registered operators (so each artifact's VALUES are already
driver/oracle-verified), artifacts land as parquet under
``{jobs_root}/{job_id}/{stage}/``, and the job closes with an atomic
``manifest.json`` recording per-stage row counts and status — written
LAST, so a manifest's existence is the success marker (the ``jobs_db``
status record of the reference; a crashed job leaves no manifest and its
directory is re-runnable or expirable). There is no driver-side data
movement: counts come from the stage writes' committed files.

Scale: stages share the session; each artifact write is an independent
action over operator plans that are themselves scale-audited. At 100 TB
the per-stage parquet dirs are partitioned by the operators' natural
keys and jobs_root sits on object storage — the layout cleanup_old_jobs
expects, generalized.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .commit import write_json

# stage name -> registered operator (import-light: resolved lazily so the
# module does not force-load every operator suite at import time)
_JOB_STAGES = (
    "sent_classify",
    "sent_distribution",
    "sent_trends",
    "sent_trend_risk",
    "summarize_prompts",
    "recommendation_prompts",
    "top_words",
    "run_metrics",
)


def run_analysis_job(
    spark: SparkSession,
    sf_dir: str,
    jobs_root: str,
    job_id: str,
    stages: tuple[str, ...] = _JOB_STAGES,
) -> dict:
    """Run the full analysis job; returns the manifest dict.

    Artifacts: ``{jobs_root}/{job_id}/{stage}/`` parquet per stage, then
    ``{jobs_root}/{job_id}/manifest.json`` (atomic write) with row
    counts and status — the success marker, written only after every
    stage committed.
    """
    from .registry import QUERIES, load_all_modules

    load_all_modules()
    job_dir = os.path.join(jobs_root, job_id)
    # Stage writes create job_dir as a side effect, but an empty-stages
    # job (or a future stage that writes elsewhere) must still be able to
    # commit its manifest.
    os.makedirs(job_dir, exist_ok=True)
    counts: dict[str, int] = {}
    for stage in stages:
        df: DataFrame = QUERIES[stage](spark, sf_dir)
        out = os.path.join(job_dir, stage)
        df.write.mode("overwrite").parquet(out)
        # count from the committed files, not a recompute of the plan
        counts[stage] = spark.read.parquet(out).count()
    manifest = {
        "job_id": job_id,
        "status": "succeeded",
        "stages": counts,
        "sf_dir": sf_dir,
    }
    write_json(os.path.join(job_dir, "manifest.json"), manifest)
    return manifest


def read_job_artifact(
    spark: SparkSession, jobs_root: str, job_id: str, stage: str
) -> DataFrame:
    """Read one committed stage artifact of a FINISHED job (manifest
    required — reading a crashed job's partial output is refused)."""
    job_dir = os.path.join(jobs_root, job_id)
    if not os.path.exists(os.path.join(job_dir, "manifest.json")):
        raise FileNotFoundError(
            f"job {job_id!r} has no manifest (crashed or still running)"
        )
    return spark.read.parquet(os.path.join(job_dir, stage))


def list_jobs(jobs_root: str) -> list[dict]:
    """Manifests of all finished jobs under ``jobs_root``, sorted by
    job_id; unfinished/crashed job dirs (no manifest) are reported with
    status 'incomplete' so an operator can expire or re-run them."""
    out: list[dict] = []
    if not os.path.isdir(jobs_root):
        return out
    for name in sorted(os.listdir(jobs_root)):
        mpath = os.path.join(jobs_root, name, "manifest.json")
        if os.path.exists(mpath):
            # A truncated/corrupt manifest means the job did NOT complete
            # its atomic commit protocol (or the file was damaged after) —
            # report it as incomplete rather than crashing the listing.
            try:
                with open(mpath) as f:
                    out.append(json.load(f))
            except (json.JSONDecodeError, OSError):
                out.append({"job_id": name, "status": "incomplete"})
        elif os.path.isdir(os.path.join(jobs_root, name)):
            out.append({"job_id": name, "status": "incomplete"})
    return out
