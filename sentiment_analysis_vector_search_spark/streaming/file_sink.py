"""Streaming file sink: checkpointed, exactly-once parquet ingest.

The stream_ops drains target a memory sink because their contract is
"final state ≡ batch oracle"; a production ingest instead appends to a
partitioned parquet table with a CHECKPOINT so restarts neither lose nor
duplicate data. Structured Streaming's file sink gives exactly-once by
pairing the source's offset log with the sink's file-commit log
(_spark_metadata): a micro-batch is either fully committed to both or
replayed idempotently.

``stream_ingest_documents`` is the reference pipeline's ingest stage
(download → cache dir → process) re-expressed as continuous ingestion:
documents arrive on a stream, pass the same quality-gate Columns the
batch and streaming gates use, and land partitioned by language. Run it
with ``availableNow`` for a bounded catch-up drain (the testing/backfill
trigger) or a processing-time trigger for continuous tailing — the
checkpoint makes repeated invocations resume, which the pytest pins by
draining twice and asserting zero duplicate rows.

At 100 TB scale notes: the sink commits per micro-batch, so file count =
batches × partitions — pair with sinks.compact_dir on a schedule; the
checkpoint dir lives on durable shared storage; partitionBy(lang) keeps
reads prunable. Readers must go through ``read_file_sink`` (or any
_spark_metadata-aware reader) so half-written files from a crashed batch
are invisible.

Every maintenance loop below runs through ``_drain``, the one
``foreachBatch`` driver, and commits through ``commit.py``: appends are
promoted under batch-stamped names (``commit.idempotent_append_dir``),
and the loops that rewrite directories (the rollup days, the SCD2
buckets) stage them under the table's hidden ``_swap`` directory and
install them in one ``commit.swap_dirs``, with the batch id recorded
inside each swapped directory.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cut, read_events_raw
from ..commit import (
    applied_max,
    idempotent_append_dir,
    read_json,
    recover_swaps,
    staged,
    swap_dirs,
    write_json,
)
from .stream_ops import _DOC_SCHEMA, _stream_confs

BatchFn = Callable[[DataFrame, int], None]


def _guarded(fn: BatchFn, record_path: str) -> BatchFn:
    """Skip batches at or below the record's ``max_applied``; record a
    batch (bounded, atomic) after ``fn`` returns."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= applied_max(read_json(record_path)):
            return  # replayed batch: already applied
        fn(batch_df, batch_id)
        write_json(record_path, {"max_applied": batch_id})

    return run


def _drain(
    spark: SparkSession,
    src: DataFrame,
    checkpoint_dir: str,
    fn: BatchFn,
    record: str | None = None,
) -> None:
    """Run ``fn(batch_df, batch_id)`` over every micro-batch ``src`` has
    available (``availableNow``) and return once the checkpointed source
    is drained.

    ``record`` names a replay record under ``checkpoint_dir`` for loops
    whose effect cannot carry its own record (see ``_guarded``). It
    makes an idempotent effect exactly-once; a non-idempotent effect is
    at-least-once across a crash between the effect and the record."""
    if record is not None:
        fn = _guarded(fn, os.path.join(checkpoint_dir, record))
    with _stream_confs(spark):
        (
            src.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def stream_ingest_documents(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the documents stream into a lang-partitioned parquet table
    with exactly-once checkpointing (availableNow trigger)."""
    from ..operators.pipeline_ops import gate_columns

    src = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = src.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        gate_columns()["keep"].alias("keep"),
    ).where(F.col("keep"))
    with _stream_confs(spark):
        q = (
            gated.drop("keep")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .partitionBy("lang")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def read_file_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a streaming file-sink table through its _spark_metadata commit
    log (the default for spark.read.parquet on such a dir), so only files
    from fully committed micro-batches are visible."""
    return spark.read.parquet(out_dir)


_APPLIED = "_applied.json"  # a swapped directory's batch record


def _applied(base: str, name: str) -> int:
    """Highest batch id recorded in directory ``name`` of ``base``."""
    return applied_max(read_json(os.path.join(base, name, _APPLIED)))


def _swap_in_batch(
    df: DataFrame, col: str, base: str, names: list[str], batch_id: int
) -> None:
    """Rewrite partitions ``names`` of ``base`` from ``df`` partitioned by
    ``col``, each carrying the batch's record, in one swap."""
    df.repartition(F.col(col)).write.mode("overwrite").partitionBy(col).parquet(
        staged(base)
    )
    for name in names:
        write_json(staged(base, name, _APPLIED), {"max_applied": batch_id})
    swap_dirs(base, names)


def stream_rollup_maintenance(
    spark: SparkSession,
    sf_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained daily rollup: streaming events →
    ``foreachBatch`` MERGE into a day-partitioned summary table.

    The incremental-materialized-view loop a 100 TB pipeline runs: each
    micro-batch re-aggregates ONLY the days it touches (prior day state
    + batch agg, swapped in per day), so maintenance cost follows the
    batch's day-spread, not table size. The aggregate state is
    sum/count-combinable so prior+batch recombines exactly (decimal
    value sums).

    Exactly-once: the merge is additive, so each rewritten day carries
    its ``{"max_applied": N}`` record inside the same swap, and a replay
    skips the days that already carry its batch id (the SCD2 rule). The
    ``_rollup_commits.json`` record only skips a fully applied replay
    early.
    """
    from ..catalog import normalize_event_ts, read_events_raw

    raw = read_events_raw(spark, sf_dir)
    # growing-source glob: a continuous ingest lands NEW files
    # (events_<ts>.parquet) next to the seed — the FileStreamSource
    # tracks processed files, so each drain picks up only the additions.
    src = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    ev = normalize_event_ts(src)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        day_agg = (
            batch_df.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.col("event_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,10)")).alias("value_d"),
            )
        )
        days = sorted(r.day for r in day_agg.select("day").distinct().collect())
        todo = [d for d in days if batch_id > _applied(rollup_dir, f"day={d}")]
        if not todo:
            return  # replay: every day already carries this batch
        combined = day_agg.where(F.col("day").isin(todo))
        have = [
            os.path.join(rollup_dir, f"day={d}")
            for d in todo
            if os.path.isdir(os.path.join(rollup_dir, f"day={d}"))
        ]
        if have:
            # day reads back DATE-inferred from the hive path: cast to the
            # batch's string form before the union
            prior = (
                spark.read.option("basePath", rollup_dir)
                .parquet(*have)
                .withColumn("day", F.col("day").cast("string"))
            )
            combined = (
                prior.unionByName(combined)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("value_d").alias("value_d"),
                )
            )
        _swap_in_batch(
            combined, "day", rollup_dir, [f"day={d}" for d in todo], batch_id
        )

    recover_swaps(rollup_dir)  # a swap a crashed drain left open
    _drain(spark, ev, checkpoint_dir, upsert_batch, record="_rollup_commits.json")


def _stream_vector_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    kind: str,
) -> None:
    """The shared loop of the frozen-codebook vector ingests: each
    micro-batch of ``embeddings*.parquet`` rows is staged by the kind's
    ``*_index_add(..., stage_dir=...)``, promoted into its ingest table
    (the last directory of ``similarity.INDEX_LAYOUT[kind]``) by
    batch-stamped renames (``idempotent_append_dir``), then recorded in
    ``_{kind}_commits.json``. A replay after a crash before the record
    re-stages and re-replaces the same files: exactly-once."""
    from ..operators.similarity import INDEX_LAYOUT, index_verb

    table = INDEX_LAYOUT[kind].dirs[-1]
    src = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("pathGlobFilter", "embeddings*.parquet")
        .parquet(src_dir)
    )

    def add_batch(batch_df: DataFrame, batch_id: int) -> None:
        stage = os.path.join(index_dir, f"_stage_{kind}_{batch_id}")
        index_verb(kind, "add")(
            spark,
            index_dir,
            batch_df.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            ),
            stage_dir=stage,
        )
        idempotent_append_dir(stage, f"{index_dir}/{table}", batch_id)
        shutil.rmtree(stage, ignore_errors=True)

    _drain(spark, src, checkpoint_dir, add_batch, record=f"_{kind}_commits.json")


def stream_ivf_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained vector index: streaming embeddings →
    ``ivf_index_add`` against the frozen codebook.

    The serving-side complement of the batch index: the reference rebuilds
    its embedding matrix whenever reviews change (Context_analyzer fits in
    one process); at scale a vector store instead ingests embedding
    batches as they arrive, and because the codebook is frozen each
    batch's cell assignments are reproducible — the streamed index stays
    IDENTICAL to a full rebuild (pinned by pytest), while maintenance
    cost tracks the batch, not the corpus. Bootstrap the codebook first
    (``build_ivf_index`` over the seed corpus, or copy one in); re-train
    it only when drift warrants — the classic IVF operating procedure.
    Exactly-once via ``_stream_vector_ingest``.
    """
    _stream_vector_ingest(spark, src_dir, index_dir, checkpoint_dir, "ivf")


def stream_pq_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained COMPRESSED vector index: streaming
    embedding batches → ``pq_index_add`` against the frozen per-subspace
    codebooks.

    The PQ twin of ``stream_ivf_ingest``: the store being maintained here
    is the codes table (no raw vectors — the 8-64 bytes/vector
    representation that keeps a 10^9-vector index in executor memory),
    so ingest cost is one broadcast-codebook encode pass per batch.
    Frozen codebooks make each batch's codes reproducible → the streamed
    index stays IDENTICAL to a full rebuild (pinned by pytest).
    Exactly-once via ``_stream_vector_ingest``.
    """
    _stream_vector_ingest(spark, src_dir, index_dir, checkpoint_dir, "pq")


def stream_ivfpq_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained IVFADC index: streaming embedding batches
    → ``ivfpq_index_add`` against BOTH frozen codebooks (coarse cells +
    PQ subspaces).

    The composed twin of ``stream_ivf_ingest``/``stream_pq_ingest``: the
    maintained store is the cell-partitioned CODES table, so each batch
    pays one broadcast assign + one broadcast encode and the serving
    reader keeps its static cell pruning. Frozen codebooks make every
    batch reproducible → the streamed index stays IDENTICAL to a full
    rebuild (pinned by pytest). Exactly-once via
    ``_stream_vector_ingest``."""
    _stream_vector_ingest(spark, src_dir, index_dir, checkpoint_dir, "ivfpq")


def _unique_docs(batch_df: DataFrame, threshold: float) -> DataFrame:
    """Within-batch exact dedup: keep the min doc_id per content hash."""
    from ..functions.hashing import md5_long

    h = batch_df.withColumn("_h", md5_long(F.col("text")))
    keep_ids = h.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
    return h.join(keep_ids, ["_h", "doc_id"], "left_semi").drop("_h")


def _unique_vectors(batch_df: DataFrame, threshold: float) -> DataFrame:
    """(vec_id, v) rows with within-batch near-dups dropped: keep the min
    vec_id of each pair the batch candidate generator finds."""
    from ..operators.dedup import emb_candidate_pairs

    rows = batch_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dups = (
        emb_candidate_pairs(rows)
        .where(F.col("cosine") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return rows.join(dups, "vec_id", "left_anti")


# kind -> (source files, source schema, replay record, within-batch
# dedup, the table's rows of the survivors)
_DEDUP_INGEST = {
    "minhash": (
        "documents*.parquet", _DOC_SCHEMA, "_ingest_commits.json", _unique_docs,
        lambda rows: rows,
    ),
    "emb": (
        "embeddings*.parquet", "vec_id bigint, embedding array<double>",
        "_emb_ingest_commits.json", _unique_vectors,
        lambda rows: rows.select("vec_id", F.col("v").alias("embedding")),
    ),
}


def stream_dedup_ingest(
    spark: SparkSession,
    kind: str,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float | None = None,
) -> None:
    """Continuous ingest with near-dup gating against corpus history:
    each micro-batch of documents (``minhash``) or embeddings (``emb``)
    drops its within-batch duplicates, then every row with a near-dup
    at ``threshold`` (Jaccard or cosine) in the persisted index
    (``dedup_index.NEAR_DUP[kind]``; O(batch + collisions), never a
    corpus rescan). Survivors land in the parquet table AND join the
    index, so later batches are checked against them too.

    This is the full production shape of LLM-corpus ingest: the batch
    dedup operators answer "clean this corpus once"; this loop keeps a
    growing corpus clean forever, with per-batch cost independent of
    corpus size. Every source file already landed arrives in one
    micro-batch; ids are keys, so no batch repeats an indexed id.

    Exactly-once: the table rows and every index directory are staged
    under ``_stage_<batch_id>`` and promoted under batch-stamped names
    (``commit.idempotent_append_dir``), ``bands/`` last because it
    turns the gate on; then the batch is recorded. A replay after a
    crash before the record finds its own survivors indexed, so the
    gate ignores hits on ids of the batch itself: it gates against the
    index as it was before the batch, re-stages the same rows and
    re-replaces the same files."""
    from ..operators.dedup import _EMB_T, _JACCARD_T
    from ..operators.dedup_index import NEAR_DUP, check_knobs, probe_pairs, write_index

    glob, schema, record, unique, table_rows = _DEDUP_INGEST[kind]
    k = NEAR_DUP[kind]
    default, floor = {"minhash": (_JACCARD_T, 0.0), "emb": (_EMB_T, _EMB_T)}[kind]
    if threshold is None:
        threshold = default
    elif threshold < floor:
        raise ValueError(
            f"threshold={threshold} is below the {kind} candidate generators' "
            f"threshold {floor}: pairs under it are never generated, so the "
            "looser gate would silently not apply"
        )
    src = (
        spark.readStream.schema(schema).option("pathGlobFilter", glob).parquet(src_dir)
    )

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cut: multi-consumer — the index probe, the gate and its anti-joins
        batch = cut(unique(batch_df, threshold), eager=True)
        if os.path.isdir(f"{index_dir}/bands"):
            hits = (
                probe_pairs(spark, kind, batch, index_dir)
                .where(k.score() >= threshold)
                .join(
                    batch.select(F.col(k.key).alias("idx_id")), "idx_id", "left_anti"
                )
                .select(F.col("new_id").alias(k.key))
                .distinct()
            )
            batch = batch.join(hits, k.key, "left_anti")
        survivors = cut(batch, eager=True)  # cut: multi-consumer — both writes
        table_stage = os.path.join(out_dir, f"_stage_{batch_id}")
        index_stage = os.path.join(index_dir, f"_stage_{batch_id}")
        table_rows(survivors).write.mode("overwrite").parquet(table_stage)
        write_index(kind, survivors, index_stage, "overwrite")
        idempotent_append_dir(table_stage, out_dir, batch_id)
        for name in [*k.dirs, "bands"]:
            idempotent_append_dir(
                os.path.join(index_stage, name), f"{index_dir}/{name}", batch_id
            )
        shutil.rmtree(table_stage, ignore_errors=True)
        shutil.rmtree(index_stage, ignore_errors=True)

    check_knobs(kind, index_dir, pin=True)
    _drain(spark, src, checkpoint_dir, gate_batch, record=record)


def stream_sketch_maintenance(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    table_name: str = "documents",
    **params,
) -> None:
    """Keep one maintained sketch (``stats.SKETCHES[kind]``) current from
    a file stream: each micro-batch is one ``{table_name}*.parquet`` file
    under ``sf_dir``, scanned once and folded into the artifact under
    ``stats_dir`` by ``stats.fold_sketch``, so the artifact stays
    current without ever re-reading the table. ``params`` are the kind's
    fold parameters (column names and knobs). Empty batches are folded
    like any other: every merge has an identity.

    Exactly-once with no crash window: the folds are additive, so the
    batch id rides inside the artifact's single atomic write
    (``commit.fold_json``), and the replay check reads the same file it
    would update."""
    from ..stats import fold_sketch

    if table_name == "events":
        schema = read_events_raw(spark, sf_dir).schema
    else:
        schema = _DOC_SCHEMA
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table_name}*.parquet")
        .option("maxFilesPerTrigger", "1")  # one source file per batch
        .parquet(sf_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        fold_sketch(kind, stats_dir, table_name, batch_df, batch_id=batch_id, **params)

    _drain(spark, src, checkpoint_dir, fold_batch)


def stream_bloom_maintenance(
    spark: SparkSession,
    src_dir: str,
    table_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    glob: str = "*.parquet",
) -> None:
    """Continuous ingest with Bloom-index maintenance: each micro-batch
    appends its rows to ``table_dir`` and folds ONLY the newly appended
    data files into the per-file Bloom skipping index (bloom.py) — point
    lookups stay file-pruned as the table grows, and maintenance cost is
    O(batch), never a table rescan.

    Exactly-once: the batch is staged and promoted into ``table_dir``
    under batch-stamped names (``idempotent_append_dir``), so a replay
    re-replaces the same files instead of appending duplicates, and the
    ``_bloom_commits.json`` record skips batches already applied.
    ``bloom_index_add`` is idempotent by construction — it indexes the
    file-listing DIFF."""
    from ..bloom import bloom_index_add, build_bloom_index

    src = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        stage = os.path.join(table_dir, f"_stage_bloom_{batch_id}")
        batch_df.write.mode("overwrite").parquet(stage)
        idempotent_append_dir(stage, table_dir, batch_id)
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.exists(os.path.join(index_dir, "manifest.json")):
            build_bloom_index(spark, table_dir, key_col, index_dir)
        else:
            bloom_index_add(spark, table_dir, index_dir)

    _drain(spark, src, checkpoint_dir, fold_batch, record="_bloom_commits.json")


def stream_text_index_maintenance(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    glob: str = "*.parquet",
) -> None:
    """Continuously-maintained BM25 serving index: each micro-batch of
    documents appends its postings and bumps the manifest counters
    (operators/text_index.text_index_add) — O(batch) upkeep, and because
    a posting's state (tf, dl) depends only on its own document, queries
    after any number of batches are byte-identical to a full rebuild.

    Exactly-once with no crash window: the batch's postings land via
    stage -> batch-stamped atomic renames (``idempotent_append_dir`` —
    a replay re-stages the same deterministic files and re-replaces the
    same names), and the counter bump + applied-batch record travel in
    ONE manifest write. A separate record written after the counter
    bump would replay the batch on a crash in between, permanently
    inflating tf/df/N."""
    from ..operators.text_index import _read_manifest, _write_manifest, text_index_add

    src = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not os.path.exists(os.path.join(index_dir, "manifest.json")):
            # bootstrap an EMPTY manifest (no data side effects), so every
            # batch — including the first — takes the staged-commit path
            os.makedirs(index_dir, exist_ok=True)
            _write_manifest(index_dir, 0, 0, max_applied=-1)
        man = _read_manifest(index_dir)
        if batch_id <= applied_max(man):
            return  # replayed batch: postings + counters already committed
        stage = os.path.join(index_dir, f"_stage_text_{batch_id}")
        dn, ds = text_index_add(spark, batch_df, index_dir, stage_dir=stage)
        idempotent_append_dir(stage, os.path.join(index_dir, "postings"), batch_id)
        _write_manifest(
            index_dir,
            man["n_docs"] + dn,
            man["sum_dl"] + ds,
            max_applied=batch_id,
        )
        shutil.rmtree(stage, ignore_errors=True)

    _drain(spark, src, checkpoint_dir, fold_batch)


def stream_cdc_apply(
    spark: SparkSession,
    cdc_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("doc_id",),
    partition_col: str = "lang",
) -> None:
    """Continuous change-data-capture apply: a stream of change records
    (``_op`` in I/U/D plus a ``_seq`` log position) lands against a
    hive-partitioned table via ``sinks.apply_cdc`` — each micro-batch
    rewrites ONLY the partitions its changes touch, so apply cost
    follows the batch's partition spread, not table size (the
    merge_upsert maintenance story, extended to deletes).

    Exactly-once WITHOUT a commit record: ``apply_cdc`` is idempotent
    per identical batch — last-wins keyed on ``_seq``, upserts replace
    the same rows, deletes of absent keys are no-ops — and the
    checkpointed file source re-delivers a crashed batch byte-identical.
    A replay therefore converges to the same table state (no
    effect-then-record crash window exists because there is no
    record)."""
    from ..sinks import apply_cdc

    # probe under the SAME glob the stream reads: a stray
    # non-CDC parquet in the directory must not poison the inferred
    # schema, and an empty-but-existing dir should fail on the glob
    # ("no files matched"), not on a misleading inference error.
    probe = (
        spark.read.option("pathGlobFilter", "cdc_*.parquet").parquet(cdc_dir)
    )
    src = (
        spark.readStream.schema(probe.schema)
        .option("pathGlobFilter", "cdc_*.parquet")
        .option("maxFilesPerTrigger", "1")  # one CDC file per batch
        .parquet(cdc_dir)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_cdc(
            spark, table_dir, batch_df, keys=list(keys),
            partition_col=partition_col,
        )

    _drain(spark, src, checkpoint_dir, apply_batch)


def check_scd_meta(scd_dir: str, n_buckets: int) -> None:
    """Pin the SCD2 dimension's bucket count to its on-disk layout.

    ``bucket = pmod(user_id, n_buckets)`` decides which directory holds
    a user's history; an apply run with a different ``n_buckets`` than
    the build would look for open rows in the wrong directories and
    silently duplicate history. First writer records the dimension
    (atomic write of ``_scd_meta.json`` — the underscore name is
    invisible to parquet readers); every later writer fails fast on a
    mismatch. A pre-existing dimension with no meta (built before this
    check) adopts the caller's value."""
    meta_path = os.path.join(scd_dir.rstrip("/"), "_scd_meta.json")
    meta = read_json(meta_path)
    if meta is not None:
        if int(meta["n_buckets"]) != int(n_buckets):
            raise ValueError(
                f"SCD2 dimension at {scd_dir} was built with "
                f"n_buckets={meta['n_buckets']}; refusing to apply with "
                f"n_buckets={n_buckets} — rerun with the build value or "
                "rebuild the dimension"
            )
        return
    write_json(meta_path, {"n_buckets": int(n_buckets)})


def stream_scd2_maintenance(
    spark: SparkSession,
    src_dir: str,
    scd_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
) -> None:
    """Continuously-maintained SCD type-2 dimension: event batch files →
    merge into the persisted validity-interval table
    (``operators.scd.scd2_from_events`` semantics, incrementally).

    Per batch: the batch's own SCD2 runs are computed with the same
    chunk-split machinery as the graded query (batch volume is bounded
    by maxFilesPerTrigger=1), then merged against ONLY the affected
    ``bucket = pmod(user_id, n_buckets)`` partitions of the dimension:
    a user's open row extends through the batch's first run when the
    state continues, closes at its valid_from when it changes, and new
    runs append — apply cost follows the batch's bucket spread, not
    dimension size (the apply_cdc story pointed at interval merges).

    ORDER CONTRACT: batches must arrive in per-user event-time order
    (an append-only, in-order change log — the standard CDC-feed
    assumption). Out-of-order arrivals need a rebuild from the log
    (the batch query), exactly like any SCD2 warehouse load.

    (Local imports keep the module's streaming-only import surface.)

    Exactly-once: the merge is NOT idempotent (re-extending an open row
    against an already-applied batch would mis-close it), so each
    rewritten bucket directory carries an ``_applied.json`` batch-id
    record INSIDE the same directory swap (``commit.swap_dirs``) — a
    crashed batch re-delivers byte-identical (checkpointed file source)
    and skips the buckets that already carry it. The record is the
    bounded ``{"max_applied": N}`` form, read by ``commit.applied_max``
    (which also reads legacy list records). A swap a crash left open is
    finished or discarded by ``commit.recover_swaps`` when the stream
    starts (a batch's own swap completes or rolls back before the next
    batch runs). A ``_scd_meta.json`` at the table root records
    n_buckets at first write; a later apply with a different --buckets
    fails fast instead of silently merging against a mismatched pmod
    layout."""
    from pyspark.sql import Window as W

    from ..catalog import normalize_event_ts
    from ..operators.scd import scd2_from_events

    probe = spark.read.option("pathGlobFilter", "events*.parquet").parquet(
        src_dir
    )
    src = (
        spark.readStream.schema(probe.schema)
        .option("pathGlobFilter", "events*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    base = scd_dir.rstrip("/")
    cols = ["user_id", "state", "valid_from", "valid_to", "is_current"]
    check_scd_meta(base, n_buckets)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ev = normalize_event_ts(batch_df)
        if ev.isEmpty():
            return
        runs = scd2_from_events(ev).withColumn(
            "bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int")
        )
        affected = sorted(
            int(r[0]) for r in runs.select("bucket").distinct().collect()
        )
        todo = [b for b in affected if batch_id > _applied(base, f"bucket={b}")]
        if not todo:
            return  # full replay: every bucket already recorded this batch
        # cut: multi-consumer — the empty-schema fallback, first and rest
        runs = cut(runs.where(F.col("bucket").isin(todo)), eager=True)

        have = [
            b for b in todo if os.path.isdir(os.path.join(base, f"bucket={b}"))
        ]
        if have:
            cur = (
                spark.read.parquet(
                    *[os.path.join(base, f"bucket={b}") for b in have]
                )
                .withColumn(
                    "bucket",
                    F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int"),
                )
            )
        else:
            cur = runs.where(F.lit(False))  # empty, same schema
        open_rows = cur.where(F.col("is_current") == 1)
        closed_rows = cur.where(F.col("is_current") == 0)

        wf = W.partitionBy("user_id").orderBy("valid_from")
        ranked = runs.withColumn("rn", F.row_number().over(wf))
        first = ranked.where(F.col("rn") == 1).select(
            F.col("user_id"),
            F.col("state").alias("state_f"),
            F.col("valid_from").alias("from_f"),
            F.col("valid_to").alias("to_f"),
            F.col("is_current").alias("cur_f"),
            F.col("bucket").alias("bucket_f"),
        )
        rest = ranked.where(F.col("rn") > 1).select("bucket", *cols)

        j = open_rows.alias("o").join(
            first.alias("f"), F.col("o.user_id") == F.col("f.user_id"), "full"
        )
        both = j.where(
            F.col("o.user_id").isNotNull() & F.col("f.user_id").isNotNull()
        )
        # continuation: open row absorbs the first run's span
        extended = both.where(F.col("o.state") == F.col("f.state_f")).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("o.user_id").alias("user_id"),
            F.col("o.state").alias("state"),
            F.col("o.valid_from").alias("valid_from"),
            F.col("f.to_f").alias("valid_to"),
            F.col("f.cur_f").alias("is_current"),
        )
        # state change: open row closes at the first run's start; the
        # first run enters as its own row
        closed_now = both.where(F.col("o.state") != F.col("f.state_f")).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("o.user_id").alias("user_id"),
            F.col("o.state").alias("state"),
            F.col("o.valid_from").alias("valid_from"),
            F.col("f.from_f").alias("valid_to"),
            F.lit(0).alias("is_current"),
        )
        first_kept = both.where(F.col("o.state") != F.col("f.state_f")).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("f.user_id").alias("user_id"),
            F.col("f.state_f").alias("state"),
            F.col("f.from_f").alias("valid_from"),
            F.col("f.to_f").alias("valid_to"),
            F.col("f.cur_f").alias("is_current"),
        )
        untouched_open = j.where(F.col("f.user_id").isNull()).select(
            F.col("o.bucket").alias("bucket"),
            F.col("o.user_id").alias("user_id"),
            F.col("o.state").alias("state"),
            F.col("o.valid_from").alias("valid_from"),
            F.col("o.valid_to").alias("valid_to"),
            F.col("o.is_current").alias("is_current"),
        )
        new_users_first = j.where(F.col("o.user_id").isNull()).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("f.user_id").alias("user_id"),
            F.col("f.state_f").alias("state"),
            F.col("f.from_f").alias("valid_from"),
            F.col("f.to_f").alias("valid_to"),
            F.col("f.cur_f").alias("is_current"),
        )
        merged = (
            closed_rows.select("bucket", *cols)
            .unionByName(extended)
            .unionByName(closed_now)
            .unionByName(first_kept)
            .unionByName(untouched_open)
            .unionByName(new_users_first)
            .unionByName(rest)
        )

        _swap_in_batch(
            merged, "bucket", base, [f"bucket={b}" for b in todo], batch_id
        )

    recover_swaps(base)  # a swap a crashed drain left open
    _drain(spark, src, checkpoint_dir, apply_batch)
