"""Incremental embedding near-dup: a persisted sign-LSH bucket index.

The embedding twin of ``dedup_index`` (MinHash): a production ingest
asks "is this NEW vector batch a near-dup of anything already in the
corpus?" every hour. Recomputing corpus signatures per batch is a full
corpus scan; this index persists what the batch operator
(``dedup.dedup_embedding``) derives once —

- ``vectors/``  (vec_id, v, nrm)           the exact-verify relation
- ``bands/``    (band, bucket, vec_id)     sign-LSH buckets, partitioned
                                           by band so a probe prunes to
                                           its band's partition

— so checking a batch costs O(batch + collisions), never O(corpus).

Because a signature depends only on its own vector (fixed seeded
hyperplanes — dedup.emb_signatures), the incremental index is IDENTICAL
to one derived from the union corpus: ``emb_index_check`` returns
exactly the cross-batch pairs batch ``dedup_embedding`` finds on the
union (pinned by pytest), the frozen-derivation property the MinHash
and IVF indexes already rely on. The band width knob
(SPARK_GRAFT_EMB_BAND_BITS / dedup.emb_band_bits_for) applies at BUILD
time; probes must run in a process with the same width (the manifest
records it and check refuses a mismatch — a silent mismatch would
probe the wrong buckets and return an empty-ish answer).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cut
from ..commit import write_json
from ..functions.vectors import dot
from ..sinks import spread_repartition
from .dedup import _EMB_BAND_BITS, _EMB_BANDS, _EMB_T, emb_signatures


def _sig_bands(vectors: DataFrame) -> DataFrame:
    sig = emb_signatures(vectors)
    return sig.select(
        "vec_id", "v", "nrm", F.posexplode("buckets").alias("band", "bucket")
    )


def build_emb_index(
    spark: SparkSession, vectors: DataFrame, index_dir: str
) -> None:
    """Seed the index from ``vectors`` (vec_id, v array<double>)."""
    bands = _sig_bands(vectors)
    (
        spread_repartition(bands.select("band", "bucket", "vec_id"), "band", "bucket")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{index_dir}/bands")
    )
    (
        bands.select("vec_id", "v", "nrm")
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{index_dir}/vectors")
    )
    write_json(
        os.path.join(index_dir, "manifest.json"),
        {"bands": _EMB_BANDS, "band_bits": _EMB_BAND_BITS},
    )


def emb_index_add(
    spark: SparkSession, vectors: DataFrame, index_dir: str
) -> None:
    """Append a new batch — signatures depend only on their own vectors,
    so append ≡ rebuild from the union (pytest-pinned)."""
    _check_width(index_dir)
    bands = _sig_bands(vectors)
    (
        spread_repartition(bands.select("band", "bucket", "vec_id"), "band", "bucket")
        .write.mode("append")
        .partitionBy("band")
        .parquet(f"{index_dir}/bands")
    )
    bands.select("vec_id", "v", "nrm").distinct().write.mode("append").parquet(
        f"{index_dir}/vectors"
    )


def _check_width(index_dir: str) -> None:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        m = json.load(f)
    if m["bands"] != _EMB_BANDS or m["band_bits"] != _EMB_BAND_BITS:
        raise ValueError(
            f"index built with {m['bands']}x{m['band_bits']}-bit bands; this "
            f"process runs {_EMB_BANDS}x{_EMB_BAND_BITS} "
            "(SPARK_GRAFT_EMB_BAND_BITS mismatch — probing would read the "
            "wrong buckets)"
        )


def emb_index_check(
    spark: SparkSession,
    vectors: DataFrame,
    index_dir: str,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a new vector batch and the indexed corpus:
    (vec_a, vec_b, cosine) with vec_a < vec_b, exactly the cross-batch
    rows batch ``dedup_embedding`` would emit on the union. Plan shape:
    batch band rows (gated broadcast through the shared
    ``stats.choose_join_strategy`` byte policy, as dedup_index_check)
    probe the band-partitioned bucket table; only colliding corpus
    vectors are read back (semi-join) for the exact-cosine verify."""
    from .. import stats as _stats

    _check_width(index_dir)
    # cut: multi-consumer — the count, the probe and the verify vectors
    new_bands = cut(_sig_bands(vectors), eager=True)
    n_rows = new_bands.count()
    batch_stats = {
        "b": {
            "n_rows": n_rows,
            "n_nulls": 0,
            "min_value": None,
            "max_value": None,
            "approx_ndv": max(n_rows, 1),
        }
    }
    cap = (
        broadcast_max_bytes
        if broadcast_max_bytes is not None
        else _stats.DEFAULT_BROADCAST_MAX_BYTES
    )
    small = (
        _stats.choose_join_strategy(
            batch_stats, None, "b", _stats.schema_row_bytes(new_bands), cap
        )
        == "broadcast"
    )
    hint = F.broadcast if small else (lambda df: df)
    idx_bands = spark.read.parquet(f"{index_dir}/bands")
    # cut: multi-consumer — the index vector semi-join and the verify join
    cand = cut(
        idx_bands.join(
            hint(
                new_bands.select(
                    "band",
                    "bucket",
                    F.col("vec_id").alias("new_id"),
                )
            ),
            ["band", "bucket"],
        )
        .select(F.col("vec_id").alias("idx_id"), "new_id")
        .where(F.col("idx_id") != F.col("new_id"))
        .distinct(),
        eager=True,
    )
    idx_vecs = spark.read.parquet(f"{index_dir}/vectors").join(
        hint(cand.select(F.col("idx_id").alias("vec_id")).distinct()),
        "vec_id",
        "left_semi",
    )
    new_vecs = new_bands.select("vec_id", "v", "nrm").distinct()
    pair = (
        cand.join(
            idx_vecs.withColumnsRenamed(
                {"vec_id": "idx_id", "v": "iv", "nrm": "inrm"}
            ),
            "idx_id",
        )
        .join(
            new_vecs.withColumnsRenamed(
                {"vec_id": "new_id", "v": "nv", "nrm": "nnrm"}
            ),
            "new_id",
        )
    )
    cosine = F.round(
        dot("iv", "nv")
        / (F.col("inrm") * F.col("nnrm")),
        6,
    )
    return (
        pair.select(
            F.least("idx_id", "new_id").alias("vec_a"),
            F.greatest("idx_id", "new_id").alias("vec_b"),
            cosine.alias("cosine"),
            F.col("new_id").alias("new_vec_id"),
        )
        .where(F.col("cosine") >= _EMB_T)
    )
