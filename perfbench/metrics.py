"""The benchmark's metric names, units and bounds; BENCHMARK.json lists the
same entries (``test_perfbench.py`` checks that they agree)."""

from __future__ import annotations

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "unit_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "docs_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
]

JOB_STAGES = (
    "sent_classify", "sent_distribution", "sent_trends", "sent_trend_risk",
    "summarize_prompts", "recommendation_prompts", "top_words", "run_metrics",
)
CURATION = ("dedup_minhash_lsh", "dedup_containment", "dedup_ngram_jaccard", "dedup_keep_canonical")
INDEX_READS = ("text_index_query", "ann_ivfpq_index_query")
INDEX_ADDS = ("dedup_index_add", "text_index_add", "ivfpq_index_add")
BUILDS = ("build_text_index", "build_ivfpq_index", "build_dedup_index")


def _unit(name: str) -> str:
    measure = name.rsplit(".", 1)[1]
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_bytes") or measure == "bytes":
        return "bytes"
    if "recall" in measure:
        return "ratio"
    return "count"


def _names() -> list[str]:
    out = []
    for s in JOB_STAGES:
        out += [f"{s}.{m}" for m in ("construct_s", "exec_s", "jobs", "tasks", "shuffle_bytes")]
    out += ["run_analysis_job.call_s", "jobs.overhead_s"]
    for f in CURATION:
        out += [f"{f}.{m}" for m in ("construct_s", "plan_s", "exec_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes")]
    out += ["catalog.cut_jobs", "dedup_minhash_lsh.planted_recall"]
    for f in INDEX_READS:
        out += [f"{f}.{m}" for m in ("construct_s", "plan_s", "exec_s", "jobs", "tasks", "input_bytes")]
    out += ["ann_ivfpq_index_query.recall_at_10", "index.files", "index.bytes"]
    out += [f"{b}.call_s" for b in BUILDS]
    out += [f"dedup_index_check.{m}" for m in ("construct_s", "plan_s", "exec_s", "jobs", "tasks", "shuffle_bytes")]
    out += ["dedup_index_check.dup_recall"]
    for f in INDEX_ADDS:
        out += [f"{f}.{m}" for m in ("call_s", "jobs", "tasks", "shuffle_bytes")]
    out += ["index.files_written"]
    out += ["session.get_spark_s", "registry.load_all_modules_s", "jvm.gc_s", "jvm.gc_count", "jvm.heap_used_bytes"]
    out += ["trace.unit_p50_s", "trace.overhead_s", "requests.first_half_s", "requests.second_half_s"]
    return out


PER_LAYER = [{"name": n, "unit": _unit(n), "better": "higher" if "recall" in n else "lower"} for n in _names()]
