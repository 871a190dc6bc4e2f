"""Materialized rollups with aggregate-query rewrite.

The warehouse pattern: materialize ONE fine-grained partial aggregate
(dims → re-aggregable measure state) and answer every coarser
aggregate from it instead of the fact table. A 100 TB fact scan becomes
a rollup-sized scan for any query whose grouping is a subset of the
rollup dims and whose measures derive from the stored state:

- SUM   → sum of partial decimal sums (exact: decimal state, no float
          re-association — the same rule as functions/stable.dsum)
- COUNT → sum of partial counts
- AVG   → total sum / total count (NEVER avg-of-avgs)
- MIN/MAX → min/max of partial min/max

``rollup_answer`` REFUSES (raises) when the request is not answerable
from the stored state — a silent fallback to the fact table would hide
the 100 TB scan the rollup exists to prevent; callers opt into
fallback explicitly. Freshness is the caller's contract: rebuild per
ingest, or maintain incrementally (streaming/file_sink's
stream_rollup_maintenance is the continuous counterpart of this batch
surface).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commit import replace_dir, write_json

_DEC = "decimal(30,10)"
_ANSWERABLE = ("sum", "count", "avg", "min", "max")


def build_rollup(
    spark: SparkSession,
    df: DataFrame,
    dims: list[str],
    measures: dict[str, str],
    out_dir: str,
) -> None:
    """Materialize the (dims → partial state) rollup of ``df``:
    per measure a decimal partial sum, partial count, partial min/max;
    plus one `_rows` count. Manifest records dims/measures so
    ``rollup_answer`` can validate requests without reading data."""
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for name, col in measures.items():
        aggs.append(F.sum(F.col(col).cast(_DEC)).alias(f"_sum_{name}"))
        aggs.append(F.count(F.col(col)).alias(f"_cnt_{name}"))
        aggs.append(F.min(F.col(col)).alias(f"_min_{name}"))
        aggs.append(F.max(F.col(col)).alias(f"_max_{name}"))
    rolled = df.groupBy(*dims).agg(*aggs)

    def write(tmp: str) -> None:
        rolled.write.mode("overwrite").parquet(tmp)
        write_json(
            os.path.join(tmp, "_rollup_manifest.json"),
            {"dims": list(dims), "measures": dict(measures)},
        )

    replace_dir(out_dir, write)


def rollup_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "_rollup_manifest.json")) as f:
        return json.load(f)


def can_answer(
    out_dir: str, group_by: list[str], wants: list[tuple[str, str]]
) -> bool:
    """True iff the rollup at ``out_dir`` answers GROUP BY ``group_by``
    with ``wants`` = [(agg, measure_name)] — grouping must be a subset
    of the stored dims, aggregates limited to the re-aggregable five,
    measures to the stored set ('*' count is always answerable)."""
    m = rollup_manifest(out_dir)
    if not set(group_by) <= set(m["dims"]):
        return False
    for agg, name in wants:
        if agg not in _ANSWERABLE:
            return False
        if not (agg == "count" and name == "*") and name not in m["measures"]:
            return False
    return True


def rollup_answer(
    spark: SparkSession,
    out_dir: str,
    group_by: list[str],
    wants: list[tuple[str, str]],
) -> DataFrame:
    """Answer ``GROUP BY group_by`` + ``wants`` aggregates from the
    rollup — a rollup-sized scan, never the fact table. Output columns
    are ``{agg}_{name}`` (``count_*`` → ``count_rows``); sums/avgs come
    back as doubles from the exact decimal state (cross-engine stable,
    no float re-association). Raises ValueError when the request is not
    answerable from the stored state."""
    if not can_answer(out_dir, group_by, wants):
        raise ValueError(
            f"rollup at {out_dir} cannot answer group_by={group_by} "
            f"wants={wants} (manifest: {rollup_manifest(out_dir)})"
        )
    rolled = spark.read.parquet(out_dir)
    aggs = []
    for agg, name in wants:
        if agg == "count" and name == "*":
            aggs.append(F.sum("_rows").alias("count_rows"))
        elif agg == "count":
            aggs.append(F.sum(f"_cnt_{name}").alias(f"count_{name}"))
        elif agg == "sum":
            aggs.append(
                F.sum(f"_sum_{name}").cast("double").alias(f"sum_{name}")
            )
        elif agg == "avg":
            aggs.append(
                (F.sum(f"_sum_{name}") / F.sum(f"_cnt_{name}"))
                .cast("double")
                .alias(f"avg_{name}")
            )
        elif agg == "min":
            aggs.append(F.min(f"_min_{name}").alias(f"min_{name}"))
        else:
            aggs.append(F.max(f"_max_{name}").alias(f"max_{name}"))
    if group_by:
        return rolled.groupBy(*group_by).agg(*aggs)
    return rolled.agg(*aggs)


def rollup_add(
    spark: SparkSession, out_dir: str, new_df: DataFrame
) -> None:
    """Fold a new fact batch into an existing rollup WITHOUT re-reading
    the fact table: partial-aggregate the batch with the manifest's
    dims/measures, append, and let ``rollup_answer``'s re-aggregation
    absorb the duplicate dim rows (partial state is mergeable by
    construction). Fold the appended state back with ``rollup_compact``
    (``rollup compact`` on the CLI)."""
    m = rollup_manifest(out_dir)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for name, col in m["measures"].items():
        aggs.append(F.sum(F.col(col).cast(_DEC)).alias(f"_sum_{name}"))
        aggs.append(F.count(F.col(col)).alias(f"_cnt_{name}"))
        aggs.append(F.min(F.col(col)).alias(f"_min_{name}"))
        aggs.append(F.max(F.col(col)).alias(f"_max_{name}"))
    batch = new_df.groupBy(*m["dims"]).agg(*aggs)
    batch.write.mode("append").parquet(out_dir)


def rollup_compact(spark: SparkSession, out_dir: str) -> int:
    """Re-aggregate the rollup's PARTIAL STATE in place (state-aware:
    sums/counts/_rows sum, min/max fold — never touches the fact
    table). After many ``rollup_add`` appends a dim tuple is spread
    over many state rows and small files; compaction restores one row
    per dim tuple, swapped in like ``build_rollup``. Returns the
    compacted row count."""

    def write(tmp: str) -> int:
        m = rollup_manifest(out_dir)
        rolled = spark.read.parquet(out_dir)
        aggs = [F.sum("_rows").alias("_rows")]
        for name in m["measures"]:
            aggs.append(F.sum(f"_sum_{name}").alias(f"_sum_{name}"))
            aggs.append(F.sum(f"_cnt_{name}").alias(f"_cnt_{name}"))
            aggs.append(F.min(f"_min_{name}").alias(f"_min_{name}"))
            aggs.append(F.max(f"_max_{name}").alias(f"_max_{name}"))
        compacted = rolled.groupBy(*m["dims"]).agg(*aggs).select(*rolled.columns)
        compacted.write.mode("overwrite").parquet(tmp)
        write_json(os.path.join(tmp, "_rollup_manifest.json"), m)
        return spark.read.parquet(tmp).count()

    return replace_dir(out_dir, write)
