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
directory is re-runnable or expirable).

One run does three things:

- **One classification.** Every stage consumes the same sentiment
  classification, so the job classifies once, as one eager lineage cut
  (``sentiment_ops.shared_classification``), and builds every stage on
  that cut. The stages keep their registered ``(spark, sf_dir)`` call
  and, called alone, their plans.
- **Side-by-side writes.** The stages are built one after another on the
  caller's thread, and each is handed to a thread pool as soon as it is
  built, so its parquet write runs while the next stage is built and
  next to the other writes. Each write runs under the Spark local
  properties (job group, description) the caller had when that stage was
  built. A failed stage fails the job once every submitted write has
  finished, before any manifest is written.
- **Counts from footers.** Each stage's row count is summed from its
  committed files' parquet footers (``sinks.parquet_rows``): no Spark
  job, no data read, and the listing goes through the Hadoop FileSystem
  so it works on object storage.

Scale: the stage outputs are small aggregates of the classified corpus
(a corpus-sized ``sent_classify`` aside), so a run is bound by per-job
latency, which the side-by-side writes overlap. At 100 TB the shared cut
is the one corpus-sized pass and jobs_root sits on object storage — the
layout cleanup_old_jobs expects, generalized.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .commit import write_json
from .sinks import parquet_rows

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
    from .registry import load_all_modules

    load_all_modules()
    job_dir = os.path.join(jobs_root, job_id)
    # Stage writes create job_dir as a side effect, but an empty-stages
    # job (or a future stage that writes elsewhere) must still be able to
    # commit its manifest.
    os.makedirs(job_dir, exist_ok=True)
    counts = _run_stages(spark, sf_dir, job_dir, stages) if stages else {}
    manifest = {
        "job_id": job_id,
        "status": "succeeded",
        "stages": counts,
        "sf_dir": sf_dir,
    }
    write_json(os.path.join(job_dir, "manifest.json"), manifest)
    return manifest


def _run_stages(
    spark: SparkSession, sf_dir: str, job_dir: str, stages: tuple[str, ...]
) -> dict[str, int]:
    """Build every stage over one classification, in order on this
    thread, handing each to a thread pool that writes and counts it while
    the next is built; returns the row counts, or raises the first failed
    stage's error once every submitted write has finished."""
    from .operators.sentiment_ops import shared_classification
    from .registry import QUERIES

    jsc = spark.sparkContext._jsc.sc()

    def write(out: str, df: DataFrame, props) -> int:
        jsc.setLocalProperties(props)
        df.write.mode("overwrite").parquet(out)
        return parquet_rows(spark, out)

    futures = {}
    with ThreadPoolExecutor(len(stages)) as pool, shared_classification(spark, sf_dir):
        for stage in stages:
            df = QUERIES[stage](spark, sf_dir)
            # the write's jobs carry the job group and description this
            # thread had when the stage was built
            props = jsc.getLocalProperties().clone()
            futures[stage] = pool.submit(write, os.path.join(job_dir, stage), df, props)
    return {stage: f.result() for stage, f in futures.items()}


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
