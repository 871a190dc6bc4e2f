"""Incremental near-dup gates: persisted LSH band indexes.

The batch operators (dedup.py) answer "which pairs in THIS corpus are
near-dups" — but a production ingest asks a different question every
hour: "is this NEW batch a near-dup of anything already in the 100 TB
corpus?" Recomputing corpus signatures per batch is a full corpus scan;
this module persists what the batch operators derive once, for two
kinds of near-dup (``NEAR_DUP``):

- ``minhash``, the index of ``dedup_minhash_lsh``:
  ``shingles/`` (doc_id, sh), ``sizes/`` (doc_id, sz) and
  ``bands/`` (band, bh, doc_id);
- ``emb``, the sign-LSH index of ``dedup_embedding``:
  ``vectors/`` (vec_id, v, nrm) and ``bands/`` (band, bucket, vec_id).

``bands/`` is partitioned by band so a probe prunes to its band's
partition, so checking a batch costs O(batch + collisions), never
O(corpus): the batch's band rows equi-join the persisted buckets, and
only the colliding ids' verify rows are read back for the exact score
(Jaccard or cosine).

Because a signature depends only on its own doc or vector (a fixed
seeded hash family or hyperplane set), the incremental index is
IDENTICAL to one derived from the union corpus — ``*_index_check``
returns exactly the cross-batch pairs the batch operator would find on
the union (pinned by pytest), the same frozen-derivation property the
IVF index relies on. The emb band width (SPARK_GRAFT_EMB_BAND_BITS /
dedup.emb_band_bits_for) applies at BUILD time: the index's
``manifest.json`` records it, and add and check refuse a process with
another width, which would silently probe the wrong buckets.

Operating procedure at scale: ``build_*`` seeds from the existing
corpus; per ingest batch run the check (gate or tag the duplicates),
then the add for the survivors — ``file_sink.stream_dedup_ingest`` does
both, exactly once; compact the appended partitions on a schedule
(sinks.compact_dir).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cut
from ..commit import read_json, write_json
from ..functions.vectors import dot
from ..sinks import spread_repartition
from .dedup import (
    _EMB_BAND_BITS,
    _EMB_BANDS,
    _EMB_T,
    _JACCARD_T,
    doc_shingles,
    emb_signatures,
    jaccard,
    minhash_bands,
    minhash_sigs,
    shared_counts,
)


def _sizes(sh: DataFrame, name: str = "sz") -> DataFrame:
    """(doc_id, ``name``): each doc's shingle count."""
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias(name))


def _shingle_pairs(spark, index_dir, cand, idx_sh, new_sh) -> DataFrame:
    """Candidate pairs with their shared-shingle count and both sizes."""
    idx_sz = spark.read.parquet(f"{index_dir}/sizes").withColumnsRenamed(
        {"doc_id": "idx_id", "sz": "sz_i"}
    )
    new_sz = _sizes(new_sh, "sz_n").withColumnsRenamed({"doc_id": "new_id"})
    return (
        shared_counts(cand, idx_sh, new_sh, "idx_id", "new_id")
        .join(idx_sz, "idx_id")
        .join(new_sz, "new_id")
    )


def _vector_pairs(spark, index_dir, cand, idx_vecs, new_vecs) -> DataFrame:
    """Candidate pairs with both vectors and norms."""
    return cand.join(
        idx_vecs.withColumnsRenamed({"vec_id": "idx_id", "v": "iv", "nrm": "inrm"}),
        "idx_id",
    ).join(
        new_vecs.withColumnsRenamed({"vec_id": "new_id", "v": "nv", "nrm": "nnrm"}),
        "new_id",
    )


def _cosine() -> Column:
    return F.round(dot("iv", "nv") / (F.col("inrm") * F.col("nnrm")), 6)


@dataclass(frozen=True)
class NearDup:
    """One near-dup index kind.

    ``relation`` derives the relation every write and probe cuts once
    from a batch; ``dirs`` maps each directory written before ``bands/``
    to its rows of that relation, the first being the verify relation;
    ``bands`` derives the (band, ``bucket``, ``key``) rows; ``pairs``
    joins the probe's candidates to both sides' verify rows, and
    ``score`` scores them; ``knobs`` are the build knobs the manifest
    records."""

    key: str
    bucket: str
    relation: Callable[[DataFrame], DataFrame]
    dirs: dict[str, Callable[[DataFrame], DataFrame]]
    bands: Callable[[DataFrame], DataFrame]
    pairs: Callable[..., DataFrame]
    score: Callable[[], Column]
    knobs: dict = field(default_factory=dict)


NEAR_DUP = {
    "minhash": NearDup(
        "doc_id",
        "bh",
        doc_shingles,
        {"shingles": lambda sh: sh, "sizes": _sizes},
        lambda sh: minhash_bands(minhash_sigs(sh)).select("band", "bh", "doc_id"),
        _shingle_pairs,
        lambda: jaccard("sz_i", "sz_n"),
    ),
    "emb": NearDup(
        "vec_id",
        "bucket",
        emb_signatures,
        {"vectors": lambda sig: sig.select("vec_id", "v", "nrm")},
        lambda sig: sig.select(
            F.posexplode("buckets").alias("band", "bucket"), "vec_id"
        ),
        _vector_pairs,
        _cosine,
        {"bands": _EMB_BANDS, "band_bits": _EMB_BAND_BITS},
    ),
}


def check_knobs(kind: str, index_dir: str, pin: bool = False) -> None:
    """Refuse an index built with other build knobs than this process
    runs; with ``pin``, an index that records none takes this
    process's."""
    want = NEAR_DUP[kind].knobs
    if not want:
        return
    path = os.path.join(index_dir, "manifest.json")
    got = read_json(path)
    if got is None and pin:
        write_json(path, want)
    elif got != want:
        raise ValueError(
            f"{kind} index built with {got}; this process runs {want} "
            "(a band knob mismatch: probing would read the wrong buckets)"
        )


def write_index(kind: str, batch: DataFrame, index_dir: str, mode: str) -> None:
    """Write ``batch`` into every directory of a ``kind`` index, ``bands/``
    last, from one cut of its relation."""
    k = NEAR_DUP[kind]
    rel = cut(k.relation(batch), eager=True)  # cut: multi-consumer — every directory
    for name, rows in k.dirs.items():
        rows(rel).write.mode(mode).parquet(f"{index_dir}/{name}")
    # (band, bucket) shuffle so the band-partitioned write scales with
    # executors instead of capping at #bands tasks
    (
        spread_repartition(k.bands(rel), "band", k.bucket)
        .write.mode(mode)
        .partitionBy("band")
        .parquet(f"{index_dir}/bands")
    )


def _build(kind: str, batch: DataFrame, index_dir: str) -> None:
    write_index(kind, batch, index_dir, "overwrite")
    if NEAR_DUP[kind].knobs:
        write_json(os.path.join(index_dir, "manifest.json"), NEAR_DUP[kind].knobs)


def _add(kind: str, batch: DataFrame, index_dir: str) -> None:
    check_knobs(kind, index_dir)
    write_index(kind, batch, index_dir, "append")


def probe_pairs(
    spark: SparkSession,
    kind: str,
    batch: DataFrame,
    index_dir: str,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Every (idx_id, new_id) pair of an indexed row and a ``batch`` row
    that share a band bucket (self-pairs excluded), with the kind's
    ``pairs`` columns for its ``score``.

    Plan shape: batch band rows probe the band-partitioned bucket table
    (an equi-join), and only the colliding ids' verify rows are read
    back (semi-joined by the candidate ids). Both joins get a broadcast
    hint while the batch relation's estimated bytes (exact row count x
    dtype row width) fit ``broadcast_max_bytes`` (default
    ``stats.DEFAULT_BROADCAST_MAX_BYTES``, the join chooser's cap): the
    hourly-ingest shape broadcasts, and a backfill-sized batch takes
    keyed shuffle joins on the same keys instead of OOMing executors.
    The count costs no extra pass: it reads the cut's block sizes."""
    from ..stats import DEFAULT_BROADCAST_MAX_BYTES, schema_row_bytes

    k = NEAR_DUP[kind]
    check_knobs(kind, index_dir)
    # cut: multi-consumer — the count, bands, the verify join and the scores
    new = cut(k.relation(batch), eager=True)
    if broadcast_max_bytes is None:
        broadcast_max_bytes = DEFAULT_BROADCAST_MAX_BYTES
    small = new.count() * schema_row_bytes(new) <= broadcast_max_bytes
    hint = F.broadcast if small else (lambda df: df)
    new_bands = k.bands(new)
    idx_bands = spark.read.parquet(f"{index_dir}/bands")
    # cut: multi-consumer — the index verify semi-join and the pair join
    # (the bucket's self-rename is a no-op that keeps the formatted
    # plan's expression ids stable)
    cand = cut(
        idx_bands.join(
            hint(new_bands.withColumnsRenamed({k.key: "new_id", k.bucket: k.bucket})),
            ["band", k.bucket],
        )
        .select(F.col(k.key).alias("idx_id"), "new_id")
        .where(F.col("idx_id") != F.col("new_id"))
        .distinct(),
        eager=True,
    )
    verify, rows = next(iter(k.dirs.items()))
    idx_rows = spark.read.parquet(f"{index_dir}/{verify}").join(
        hint(cand.select(F.col("idx_id").alias(k.key)).distinct()),
        k.key,
        "left_semi",
    )
    return k.pairs(spark, index_dir, cand, idx_rows, rows(new))


def build_dedup_index(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Seed the MinHash index from an existing corpus (overwrites)."""
    _build("minhash", docs, index_dir)


def dedup_index_add(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Append a batch's signatures: cost tracks the batch, not the index."""
    _add("minhash", docs, index_dir)


def dedup_index_check(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a new batch and the indexed corpus:
    (doc_a, doc_b, jaccard, is_duplicate, new_doc_id) with doc_a < doc_b,
    exactly the cross-batch rows batch ``dedup_minhash_lsh`` would emit
    on the union. Self-pairs within the new batch are the batch
    operator's job; this is the ingest gate against history. Plan shape
    and the broadcast gate: ``probe_pairs``."""
    jc = NEAR_DUP["minhash"].score()
    return probe_pairs(spark, "minhash", docs, index_dir, broadcast_max_bytes).select(
        F.least("idx_id", "new_id").alias("doc_a"),
        F.greatest("idx_id", "new_id").alias("doc_b"),
        jc.alias("jaccard"),
        (jc >= _JACCARD_T).alias("is_duplicate"),
        # which side is the incoming doc (doc_a/doc_b are canonically
        # ordered, so an ingest gate can't infer it from position)
        F.col("new_id").alias("new_doc_id"),
    )


def build_emb_index(spark: SparkSession, vectors: DataFrame, index_dir: str) -> None:
    """Seed the embedding index from ``vectors`` (vec_id, v array<double>)
    and record its band knobs (overwrites)."""
    _build("emb", vectors, index_dir)


def emb_index_add(spark: SparkSession, vectors: DataFrame, index_dir: str) -> None:
    """Append a new batch — signatures depend only on their own vectors,
    so append ≡ rebuild from the union (pytest-pinned)."""
    _add("emb", vectors, index_dir)


def emb_index_check(
    spark: SparkSession,
    vectors: DataFrame,
    index_dir: str,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a new vector batch and the indexed corpus:
    (vec_a, vec_b, cosine, new_vec_id) with vec_a < vec_b, exactly the
    cross-batch rows batch ``dedup_embedding`` would emit on the union.
    Plan shape and the broadcast gate: ``probe_pairs``."""
    cosine = NEAR_DUP["emb"].score()
    return probe_pairs(spark, "emb", vectors, index_dir, broadcast_max_bytes).select(
        F.least("idx_id", "new_id").alias("vec_a"),
        F.greatest("idx_id", "new_id").alias("vec_b"),
        cosine.alias("cosine"),
        F.col("new_id").alias("new_vec_id"),
    ).where(F.col("cosine") >= _EMB_T)


def dedup_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Index-health audit: per-band bucket occupancy and the candidate-pair
    volume it implies (Σ n·(n−1)/2 over buckets). THE number to watch at
    scale: when max/avg occupancy grows with the corpus, the band hash is
    too narrow and check cost goes super-linear — the same occupancy
    economics SCALING.md documents for the embedding-LSH knob. Run it on a
    schedule; when expected_pairs trends quadratic, re-band (more hashes
    per band) and rebuild."""
    bands = spark.read.parquet(f"{index_dir}/bands")
    per_bucket = bands.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_docs"),
            F.max("n").alias("max_occupancy"),
            F.round(F.sum("n") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "avg_occupancy"
            ),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("bigint")
            .alias("expected_pairs"),
        )
        .orderBy("band")
    )
