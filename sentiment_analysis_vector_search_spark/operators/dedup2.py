"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
the MOSS algorithm): deterministic LOCAL-overlap dedup, complementary
to the set-similarity family in dedup.py.

MinHash/SimHash approximate GLOBAL set similarity — two documents that
share one long verbatim passage inside otherwise-different text score
low Jaccard and slip through. Winnowing guarantees: any shared run of
at least k + w - 1 tokens produces at least one IDENTICAL fingerprint
in both documents (the scheme's correctness theorem), so verbatim
passage reuse is caught regardless of how much unrelated text
surrounds it.

Pipeline: word k-grams → md5 gram hashes → per-document sliding-window
minimum (window w) → the distinct window-minima are the fingerprint
set → documents sharing ≥ t fingerprints pair up.

Scale shape: gram hashing and the window minimum are per-document
(window partitions bounded by document length, never data-sized); the
pair join is keyed by fingerprint with a hard frequency cap — a
fingerprint appearing in more than ``_CAP`` documents is boilerplate
and is dropped BEFORE the join (standard practice; also the reason the
join can never go quadratic: each surviving fingerprint yields at most
C(_CAP, 2) pairs). Documents shorter than k + w - 1 tokens produce no
fingerprints and are never flagged (documented contract; exact dedup
catches tiny verbatim docs far more cheaply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, table
from ..functions.hashing import sql_md5_long
from ..registry import register
from .dedup import (
    _DF_CAP,
    _SQL_SHINGLES_CTE,
    shared_ratio,
    shingle_pair_counts,
    shingle_sets,
)

_K = 4  # words per gram
_W = 3  # winnow window (in grams)
_T = 2  # min shared fingerprints to pair
_CAP = 10  # max docs per fingerprint before it is boilerplate

_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, cast(p as int) AS p,
         {sql_md5_long(
             f"array_to_string(t[cast(p + 1 as int):cast(p + {_K} as int)], ' ')"
         )} AS g
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - {_K} + 1, 0))) AS p
        FROM toks)
), wins AS (
  SELECT doc_id, p,
         count(*) OVER (PARTITION BY doc_id) AS ng,
         min(g) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND {_W - 1} FOLLOWING) AS fp
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE p <= ng - {_W}
), kept AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_CAP}
), live AS (
  SELECT fps.doc_id, fps.fp FROM fps JOIN kept USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_T}
"""


@register("dedup_winnow", oracle=_WINNOW_ORACLE)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint pairs: (doc_a, doc_b, n_shared) for document
    pairs sharing ≥ t window-minimum gram hashes. See module doc for the
    guarantee and the scale shape."""
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')").alias("t"),
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"CASE WHEN size(t) >= {_K} THEN "
                    f"transform(sequence(0, size(t) - {_K}),"
                    f" p -> struct(p AS p, concat_ws(' ', slice(t, p + 1, {_K})) AS gs)) "
                    "ELSE array() END"
                )
            ).alias("x"),
        )
        .where(F.col("x").isNotNull())
        .select(
            "doc_id",
            F.col("x.p").alias("p"),
            F.conv(F.substring(F.md5(F.col("x.gs")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("g"),
        )
    )
    wcnt = Window.partitionBy("doc_id")
    wmin = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, _W - 1)
    # cut: multi-consumer — the cap filter and the pair join
    fps = cut(
        grams.withColumn("ng", F.count(F.lit(1)).over(wcnt))
        .withColumn("fp", F.min("g").over(wmin))
        .where(F.col("p") <= F.col("ng") - _W)
        .select("doc_id", "fp")
        .distinct()
    )
    kept = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("nd")).where(
        F.col("nd") <= _CAP
    )
    live = fps.join(kept.select("fp"), "fp")
    a = live.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = live.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _T)
    )


# ---------------------------------------------------------------------------
# dedup_containment — ASYMMETRIC set containment (Broder's containment
# coefficient): C(A→B) = |A∩B| / |A| over word-trigram shingle sets.
# The Jaccard family misses the doc-inside-doc case — a short document
# fully quoted inside a long one scores Jaccard ≈ |A|/|B| (tiny) but
# containment C(A→B) = 1.0. This operator flags pairs where EITHER
# direction's containment clears the threshold, reporting both
# directions so the consumer can tell subset-duplicates (one side ~1.0)
# from mutual near-dups (both high).
#
# Same shingle-similarity blocks as dedup_ngram_jaccard (materialized
# shingle relation, boilerplate df-cap bounding the pair join at
# C(cap, 2) per shingle). Denominators use the SURVIVING (non-
# boilerplate) shingle counts — containment of the informative content;
# a doc made entirely of capped boilerplate has no surviving shingles
# and never pairs. The oracle runs the identical algorithm.
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.3


_CONTAIN_ORACLE = f"""
WITH {_SQL_SHINGLES_CTE},
freq AS (
  SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= {_DF_CAP}
), filtered AS (
  SELECT s.doc_id, s.sh FROM shingles s JOIN freq USING (sh)
), fsz AS (
  SELECT doc_id, count(*) AS fsz FROM filtered GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM filtered a JOIN filtered b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(shared * 1.0 / fa.fsz, 6) AS contain_a,
       round(shared * 1.0 / fb.fsz, 6) AS contain_b
FROM pairs
JOIN fsz fa ON fa.doc_id = doc_a
JOIN fsz fb ON fb.doc_id = doc_b
WHERE greatest(round(shared * 1.0 / fa.fsz, 6),
               round(shared * 1.0 / fb.fsz, 6)) >= {_CONTAIN_T}
"""


@register("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs: (doc_a, doc_b, shared, contain_a,
    contain_b) where either direction's containment >= threshold —
    catches subset-duplication (quotes, page-in-page, doc-inside-doc)
    that symmetric Jaccard under-scores."""
    ca = shared_ratio(F.col("fsz_a"))
    cb = shared_ratio(F.col("fsz_b"))
    return (
        shingle_pair_counts(shingle_sets(spark, sf_dir), "fsz")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            ca.alias("contain_a"),
            cb.alias("contain_b"),
        )
        .where(
            F.greatest(F.col("contain_a"), F.col("contain_b")) >= _CONTAIN_T
        )
    )
