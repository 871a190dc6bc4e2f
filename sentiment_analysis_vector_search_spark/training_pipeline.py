"""End-to-end training-data pipeline: the composed run that turns a raw
document corpus into training shards, using the engine's own graded
operators as stages.

    gate -> dedup -> decontaminate_exact -> decontaminate -> mix
         -> pack + shards

Composition trick: every stage materializes its survivors as
``<stage_dir>/documents.parquet``, which makes the stage directory a
valid ``sf_dir`` for the NEXT stage — the operators run unmodified
against intermediate corpora through the exact same contract the driver
grades them under (catalog.table reads ``{sf_dir}/{name}.parquet``).

Resumability: ``manifest.json`` at the output root records per-stage row
counts and completion; a re-run skips completed stages (their outputs
are immutable once marked done), so a failure in stage 4 of a 100 TB run
never re-pays stages 1-3. The manifest write is atomic (tmp + replace)
and happens only AFTER the stage's parquet is fully written, so a crash
mid-stage leaves the stage unmarked and the re-run redoes it.

Stage semantics (each citing the operator that owns the logic):

1. ``gate`` — drop docs failing the C4-style quality gate
   (pipeline_ops.text_quality_gate / gate_columns).
2. ``dedup`` — keep only canonical docs per near-dup component
   (dedup.dedup_keep_canonical: LSH candidates -> exact verify ->
   connected components -> min-id survivor).
3. ``decontaminate_exact`` — the cheap EXACT-substring pass runs first
   (curation_ext.decontaminate_exact; the module's own ordering doc —
   exact-match is the pass that precedes the n-gram one, so the
   expensive gram explode never pays for verbatim leaks). Contaminated
   corpus docs drop via anti-join; the EVAL docs themselves stay in the
   intermediate corpus — both decontam operators derive their probe set
   from ``doc_id < _EVAL_DOCS`` of the corpus they read, so removing
   eval docs here would silently empty the n-gram stage's probe set.
4. ``decontaminate`` — drop docs overlapping the held-out eval set by
   word-8-grams (curation_ext.decontaminate_ngrams); eval docs leave
   the training corpus here, as before.
5. ``mix`` — apply domain_mix_plan's per-source sampling rates with the
   deterministic md5-percentile coin (sample_importance's device):
   down-sample overrepresented sources, never upsample.
6. ``pack`` + ``shards`` — pack_sequences' token-budget packing table
   and train_shuffle_shards' training-order shard assignment, written
   as the terminal artifacts (packed/ and shards/ with the shard column
   partitioning the layout).

At 100 TB every stage is the operator's own scale shape (documented per
operator); the pipeline adds only parquet materialization between
stages — the checkpointing a multi-hour run wants anyway.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog
from .catalog import cut, table
from .commit import read_json, write_json

STAGES = (
    "gate",
    "dedup",
    "decontaminate_exact",
    "decontaminate",
    "mix",
    "pack",
    "shards",
)


def _manifest_path(out_root: str) -> str:
    return os.path.join(out_root, "manifest.json")


def _load_manifest(out_root: str) -> dict:
    return read_json(_manifest_path(out_root)) or {}


def _mark(out_root: str, manifest: dict, stage: str, entry: dict) -> None:
    manifest[stage] = {**entry, "done": True}
    write_json(_manifest_path(out_root), manifest)


def _write_docs(docs: DataFrame, stage_dir: str) -> int:
    """Materialize a stage's surviving documents as a valid sf_dir."""
    os.makedirs(stage_dir, exist_ok=True)
    out = os.path.join(stage_dir, "documents.parquet")
    docs.write.mode("overwrite").parquet(out)
    # a resumed re-write must not serve a stale memoized file listing
    catalog.refresh(docs.sparkSession, stage_dir)
    return docs.sparkSession.read.parquet(out).count()


def run_training_pipeline(
    spark: SparkSession, sf_dir: str, out_root: str
) -> dict:
    """Run (or resume) the full pipeline; returns the manifest."""
    from .operators.curation2 import pack_sequences
    from .operators.curation_ext import decontaminate_ngrams, domain_mix_plan
    from .operators.dedup import dedup_keep_canonical
    from .operators.pipeline_ops import text_quality_gate
    from .operators.training_ops import train_shuffle_shards
    from .functions.hashing import MOD31, md5_int31

    os.makedirs(out_root, exist_ok=True)
    man = _load_manifest(out_root)
    cur = sf_dir

    def stage_dir(name: str) -> str:
        return os.path.join(out_root, name)

    # 1. quality gate ------------------------------------------------------
    if not man.get("gate", {}).get("done"):
        t0 = time.perf_counter()
        docs = table(spark, cur, "documents")
        keep = text_quality_gate(spark, cur).where(F.col("keep")).select("doc_id")
        kept = docs.join(keep, "doc_id")
        n_in, n_out = docs.count(), _write_docs(kept, stage_dir("gate"))
        _mark(out_root, man, "gate", {"rows_in": n_in, "rows_out": n_out,
                                      "seconds": round(time.perf_counter() - t0, 2)})
    cur = stage_dir("gate")

    # 2. near-dup removal --------------------------------------------------
    if not man.get("dedup", {}).get("done"):
        t0 = time.perf_counter()
        docs = table(spark, cur, "documents")
        # cut: multi-consumer — two consumers below would otherwise each
        # replay the whole components fixpoint loop
        kc = cut(dedup_keep_canonical(spark, cur), eager=True)
        survivors = kc.where(~F.col("is_duplicate")).select("doc_id")
        # docs not in any dup component survive trivially (the operator
        # only emits docs that had at least one candidate pair)
        no_candidates = docs.select("doc_id").join(
            kc.select("doc_id"), "doc_id", "left_anti"
        )
        kept = docs.join(
            survivors.unionByName(no_candidates).distinct(), "doc_id"
        )
        n_in, n_out = docs.count(), _write_docs(kept, stage_dir("dedup"))
        _mark(out_root, man, "dedup", {"rows_in": n_in, "rows_out": n_out,
                                       "seconds": round(time.perf_counter() - t0, 2)})
    cur = stage_dir("dedup")

    # 3. exact decontamination (runs BEFORE the n-gram pass: verbatim
    # eval leaks are caught by a broadcast substring probe without
    # paying the gram explode; curation_ext.decontaminate_exact's own
    # ordering doc) ---------------------------------------------------
    if not man.get("decontaminate_exact", {}).get("done"):
        t0 = time.perf_counter()
        from .operators.curation_ext import decontaminate_exact

        docs = table(spark, cur, "documents")
        # anti-join on CONTAMINATED ids (the operator emits corpus docs
        # only): eval docs stay, so the n-gram stage's probe set survives
        bad = (
            decontaminate_exact(spark, cur)
            .where(F.col("contaminated"))
            .select("doc_id")
        )
        kept = docs.join(bad, "doc_id", "left_anti")
        n_in, n_out = docs.count(), _write_docs(
            kept, stage_dir("decontaminate_exact")
        )
        _mark(out_root, man, "decontaminate_exact",
              {"rows_in": n_in, "rows_out": n_out,
               "seconds": round(time.perf_counter() - t0, 2)})
    cur = stage_dir("decontaminate_exact")

    # 4. n-gram decontamination --------------------------------------------
    if not man.get("decontaminate", {}).get("done"):
        t0 = time.perf_counter()
        docs = table(spark, cur, "documents")
        clean = (
            decontaminate_ngrams(spark, cur)
            .where(~F.col("contaminated"))
            .select("doc_id")
        )
        kept = docs.join(clean, "doc_id")
        n_in, n_out = docs.count(), _write_docs(kept, stage_dir("decontaminate"))
        _mark(out_root, man, "decontaminate",
              {"rows_in": n_in, "rows_out": n_out,
               "seconds": round(time.perf_counter() - t0, 2)})
    cur = stage_dir("decontaminate")

    # 4. domain mix --------------------------------------------------------
    if not man.get("mix", {}).get("done"):
        t0 = time.perf_counter()
        docs = table(spark, cur, "documents")
        rates = domain_mix_plan(spark, cur).select("source", "sampling_rate")
        u = (md5_int31(F.col("doc_id").cast("string")) * F.lit(1.0)) / MOD31
        kept = docs.join(F.broadcast(rates), "source").where(
            u < F.col("sampling_rate")
        ).select(*docs.columns)
        n_in, n_out = docs.count(), _write_docs(kept, stage_dir("mix"))
        _mark(out_root, man, "mix", {"rows_in": n_in, "rows_out": n_out,
                                     "seconds": round(time.perf_counter() - t0, 2)})
    cur = stage_dir("mix")

    # 5a. sequence packing table ------------------------------------------
    if not man.get("pack", {}).get("done"):
        t0 = time.perf_counter()
        packed = pack_sequences(spark, cur)
        pdir = stage_dir("pack")
        os.makedirs(pdir, exist_ok=True)
        packed.write.mode("overwrite").parquet(os.path.join(pdir, "sequences.parquet"))
        n = spark.read.parquet(os.path.join(pdir, "sequences.parquet")).count()
        _mark(out_root, man, "pack",
              {"rows_out": n, "seconds": round(time.perf_counter() - t0, 2)})

    # 5b. training-order shards -------------------------------------------
    if not man.get("shards", {}).get("done"):
        t0 = time.perf_counter()
        docs = table(spark, cur, "documents")
        sharded = docs.join(
            train_shuffle_shards(spark, cur).select("doc_id", "shard"), "doc_id"
        )
        sdir = os.path.join(stage_dir("shards"), "documents.parquet")
        (
            sharded.repartition(F.col("shard"))
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(sdir)
        )
        n = spark.read.parquet(sdir).count()
        _mark(out_root, man, "shards",
              {"rows_in": docs.count(), "rows_out": n,
               "seconds": round(time.perf_counter() - t0, 2)})

    # release-notes artifact: the dataset card of what actually shipped
    # (per-source volumes / lang mix / length quantiles of the MIX stage,
    # i.e. the corpus the shards lay out) — the sheet a training run's
    # data lineage points at.
    from .operators.curation_ext import corpus_data_card

    card_path = os.path.join(out_root, "data_card.parquet")
    if not os.path.exists(card_path):
        corpus_data_card(spark, cur).write.mode("overwrite").parquet(card_path)

    return _load_manifest(out_root)
