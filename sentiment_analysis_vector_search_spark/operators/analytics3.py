"""Third analytics/corpus-stats suite (new in r6).

- ``text_repetition_score`` — Gopher-style repetition signals per document
  (duplicate-word fraction, top-word mass): the standard "is this document
  degenerate boilerplate?" curation feature next to ``text_gopher_quality``
  (curation_ext.py). One explode + two doc-keyed aggregations — both get
  map-side partial aggregation, no windows, so the plan is a linear scan
  at any corpus size.
- ``q_events_dau_wau`` — daily active users, 7-day rolling active users
  and the DAU/WAU stickiness ratio. Rolling DISTINCT over a date range has
  no shuffle-free window form; the scalable device is a bounded fan-out:
  each distinct (user, day) pair contributes to the 7 observation days it
  covers (×7 row expansion, constant), then one distinct + count per day.
  No self-join of the raw events, no global window.
- ``docs_length_histogram`` — power-of-two (log2-bucketed) document length
  histogram, the corpus-profiling staple for choosing chunk/packing sizes.
  ``floor(log2 n)`` is computed log-free as ``length(base2(n)) - 1`` —
  Spark ``conv(n,10,2)`` and DuckDB ``bin(n)`` both emit no leading
  zeros, so the bucket id is engine-exact (no float log parity risk).

Reference scope note: the reference app profiles its corpus only via
in-memory pandas aggregation — per-source ``value_counts()`` and mean
scores over a collected frame (Context_analyzer_RoBERTa_fun.py:591,
:683); these are the engine-grade profiling equivalents a data-pipeline
user needs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..functions import sentiment as S
from ..functions.stable import davg, sql_davg
from ..registry import register

# ---------------------------------------------------------------------------
# text_repetition_score
# ---------------------------------------------------------------------------

_REP_ORACLE = """
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY 1, 2
)
SELECT doc_id,
       cast(sum(cnt) AS bigint) AS n_words,
       cast(count(*) AS bigint) AS n_distinct_words,
       round(cast(sum(cnt) - count(*) AS double) / cast(sum(cnt) AS double), 6)
         AS dup_word_frac,
       round(cast(max(cnt) AS double) / cast(sum(cnt) AS double), 6)
         AS top_word_frac
FROM tf
GROUP BY doc_id
"""


@register("text_repetition_score", oracle=_REP_ORACLE)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition features: duplicate-word fraction
    (1 - distinct/total) and the mass of the single most frequent word.
    High values on either flag templated/degenerate text for the quality
    gate. Same tokenization as the sentiment pipeline (S.tokens)."""
    docs = table(spark, sf_dir, "documents")
    # explode_outer + isNotNull instead of explode: explode over a computed
    # array double-evaluates the split under InferFiltersFromGenerate.
    words = docs.select(
        "doc_id", F.explode_outer(S.tokens(F.col("text"))).alias("word")
    ).where(F.col("word").isNotNull())
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("top_cnt"),
    )
    nw = F.col("n_words").cast("double")
    return agg.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round((F.col("n_words") - F.col("n_distinct_words")).cast("double") / nw, 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_cnt").cast("double") / nw, 6).alias("top_word_frac"),
    )


# ---------------------------------------------------------------------------
# q_events_dau_wau
# ---------------------------------------------------------------------------

_WAU_DAYS = 7

_DAU_WAU_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), dau AS (
  SELECT day, count(*) AS dau FROM pairs GROUP BY 1
), wau AS (
  SELECT d.day, count(DISTINCT p.user_id) AS wau
  FROM dau d JOIN pairs p
    ON p.day BETWEEN d.day - INTERVAL {_WAU_DAYS - 1} DAY AND d.day
  GROUP BY 1
)
SELECT d.day, d.dau, w.wau,
       round(cast(d.dau AS double) / cast(w.wau AS double), 6) AS stickiness
FROM dau d JOIN wau w USING (day)
"""


@register("q_events_dau_wau", oracle=_DAU_WAU_ORACLE)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per activity day.

    Scale shape: rolling range-distinct is expressed as a constant ×7
    fan-out of the distinct (user, day) pairs — each pair votes for the
    observation days it covers — then distinct + count, all keyed
    aggregations with partial combine. The raw event table is scanned
    once; nothing self-joins at event granularity.
    """
    events = table(spark, sf_dir, "events")
    # cut: multi-consumer — the dau aggregate and the fan-out branch
    # would each rescan events and redo the distinct (SCALING.md #6)
    pairs = cut(events.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct())
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    votes = pairs.select(
        "user_id",
        F.explode_outer(
            F.expr(
                f"sequence(day, day + interval {_WAU_DAYS - 1} days,"
                " interval 1 day)"
            )
        ).alias("obs_day"),
    ).where(F.col("obs_day").isNotNull())
    wau = (
        votes.distinct()
        .groupBy(F.col("obs_day").alias("day"))
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")  # inner: obs days past the corpus end drop out
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# docs_length_histogram
# ---------------------------------------------------------------------------

_LENHIST_ORACLE = f"""
WITH b AS (
  SELECT n_chars, cast(length(bin(n_chars)) - 1 AS bigint) AS bucket
  FROM documents
)
SELECT bucket,
       cast(2 ** bucket AS bigint) AS lo_chars,
       cast(2 ** (bucket + 1) - 1 AS bigint) AS hi_chars,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       {sql_davg('n_chars', 'avg_chars')}
FROM b
GROUP BY bucket
"""


@register("docs_length_histogram", oracle=_LENHIST_ORACLE)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram over document length (n_chars ≥ 1 in this
    corpus): bucket k covers [2^k, 2^(k+1)). One scan, one tiny groupBy —
    the profile a 100 TB corpus audit starts from."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        (F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)) - 1)
        .cast("bigint")
        .alias("bucket")
    )
    return (
        docs.select("n_chars", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            davg(F.col("n_chars")).alias("avg_chars"),
        )
        .select(
            "bucket",
            F.expr("shiftleft(cast(1 as bigint), cast(bucket as int))").alias(
                "lo_chars"
            ),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(bucket as int) + 1) - cast(1 as bigint)"
            ).alias("hi_chars"),
            "n_docs",
            "min_chars",
            "max_chars",
            "avg_chars",
        )
    )
