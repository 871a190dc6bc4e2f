"""Sentiment pipeline operators — the reference's analysis flow re-expressed
as declarative DataFrame plans over the ``documents`` table.

Parity targets (reference file:line in each docstring):
classification → distribution → quality scoring → per-class normalization →
per-date trends → insurance-risk scoring (the reference's end-to-end flow in
Context_analyzer_RoBERTa_fun.py:453 + insurance_calculator.py:13).

Scale notes: every operator is a scan → narrow projection → small groupBy;
the only wide ops are tiny (3 sentiment groups, ~dates trend rows). The
classify expressions run in whole-stage codegen; nothing leaves the JVM.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, table
from ..functions import sentiment as S
from ..functions.stable import dsum, spark_dsum_sql, sql_dsum
from ..registry import register

BASE_RATE = 5000.0  # insurance_calculator.py:16


# (session, sf_dir, classified frame) shared by the stage constructs of
# one analysis job; unset outside ``shared_classification``.
_SHARED: ContextVar[tuple[SparkSession, str, DataFrame] | None] = ContextVar(
    "shared_classification", default=None
)


def classified(spark: SparkSession, sf_dir: str, fan: bool = False) -> DataFrame:
    """documents + (pos_hits, neg_hits, raw_label, confidence, sentiment).

    Parity: analyze_sentiment_enhanced (Context_analyzer_RoBERTa_fun.py:170).

    ``fan=True`` round-robins the scan across cores first — a measured win
    ONLY when the classified rows are the terminal output (sent_classify:
    the lexicon regexps dominate and nothing downstream re-shuffles).
    Aggregating consumers (sent_trends, pipeline_curate_stats, the kmeans
    fit) must keep the default: their own exchange already redistributes
    the work, and a second full-corpus shuffle is pure cost.

    Inside ``shared_classification(spark, sf_dir)`` this returns that
    block's one cut whatever ``fan`` says. That cut is not fanned: the
    whole analysis job (1000 docs, 4 cores, median of 8 interleaved warm
    runs) took 1.48 s and 22 Spark jobs over the plain cut, 1.92 s and 23
    jobs over a fanned one, because seven of its eight consumers
    aggregate.
    """
    shared = _SHARED.get()
    if shared is not None and shared[0] is spark and shared[1] == sf_dir:
        return shared[2]
    docs = table(spark, sf_dir, "documents")
    if fan:
        docs = fan_out(spark, docs)
    pos = S.pos_hits(F.col("text"))
    neg = S.neg_hits(F.col("text"))
    df = docs.withColumns({"pos_hits": pos, "neg_hits": neg})
    conf = S.confidence(F.col("pos_hits"), F.col("neg_hits"))
    raw = S.raw_label(F.col("pos_hits"), F.col("neg_hits"))
    return df.withColumns(
        {
            "raw_label": raw,
            "confidence": conf,
            "sentiment": S.sentiment(raw, conf),
        }
    )


@contextmanager
def shared_classification(spark: SparkSession, sf_dir: str):
    """Classify ``sf_dir``'s documents once; until the block exits, every
    ``classified(spark, sf_dir)`` on this thread (so every operator built
    on it) reads that one result. Threads and contexts outside the block
    are unaffected."""
    # cut: multi-consumer — every stage built inside the block reads it
    df = cut(classified(spark, sf_dir), eager=True)
    token = _SHARED.set((spark, sf_dir, df))
    try:
        yield
    finally:
        _SHARED.reset(token)


_CLASSIFY_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE}
SELECT doc_id, pos_hits, neg_hits, raw_label, confidence, sentiment
FROM labeled
"""


@register("sent_classify", oracle=_CLASSIFY_ORACLE)
def sent_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classified(spark, sf_dir, fan=True).select(
        "doc_id", "pos_hits", "neg_hits", "raw_label", "confidence", "sentiment"
    )


# ---------------------------------------------------------------------------
# distribution + confidence stats.
# Std is computed from exact decimal sums (sum, sum of squares) so the value
# is independent of partitioning — see functions/stable.py.
# Parity: sentiment_counts + confidence_stats (Context_analyzer:724,
# insurance_calculator.py:37 "confidence_stats").
# ---------------------------------------------------------------------------

_DIST_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE}
SELECT sentiment,
       count(*) AS n,
       round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS pct,
       round(cast(sum(cast(confidence as decimal(30,10))) as double) / count(*), 6) AS conf_avg,
       round(CASE WHEN count(*) > 1 THEN sqrt(greatest(
           (cast(sum(cast(confidence * confidence as decimal(30,10))) as double)
            - cast(sum(cast(confidence as decimal(30,10))) as double)
              * cast(sum(cast(confidence as decimal(30,10))) as double) / count(*))
           / (count(*) - 1), 0.0)) ELSE 0.0 END, 6) AS conf_std,
       min(confidence) AS conf_min,
       max(confidence) AS conf_max
FROM labeled
GROUP BY sentiment
"""


@register("sent_distribution", oracle=_DIST_ORACLE)
def sent_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = classified(spark, sf_dir)
    conf = F.col("confidence")
    g = lab.groupBy("sentiment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(conf).alias("_s1"),
        dsum(conf * conf).alias("_s2"),
        F.min(conf).alias("conf_min"),
        F.max(conf).alias("conf_max"),
    )
    n = F.col("n")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - 1)
    return g.select(
        "sentiment",
        "n",
        F.round(n * F.lit(1.0) / F.sum(n).over(Window.partitionBy()), 6).alias("pct"),
        F.round(F.col("_s1") / n, 6).alias("conf_avg"),
        F.round(
            F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(0.0)), 6
        ).alias("conf_std"),
        "conf_min",
        "conf_max",
    )


# ---------------------------------------------------------------------------
# quality score + per-sentiment min-max normalization.
# Parity: compute_original_score (Context_analyzer:200) and
# normalize_scores_by_sentiment (Context_analyzer:250).
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE}
SELECT doc_id, sentiment, {S.SQL_QUALITY_EXPR} AS original_score
FROM labeled
"""


@register("sent_quality_score", oracle=_QUALITY_ORACLE)
def sent_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = classified(spark, sf_dir)
    return lab.select(
        "doc_id",
        "sentiment",
        S.quality_score(F.col("text"), F.col("sentiment")).alias("original_score"),
    )


_NORMALIZE_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE},
scored AS (
  SELECT doc_id, sentiment, {S.SQL_QUALITY_EXPR} AS original_score FROM labeled
)
SELECT doc_id, sentiment,
       round(CASE WHEN max(original_score) OVER w > min(original_score) OVER w
             THEN (original_score - min(original_score) OVER w)
                  / (max(original_score) OVER w - min(original_score) OVER w)
             ELSE 0.5 END, 6) AS normalized_score
FROM scored
WINDOW w AS (PARTITION BY sentiment)
"""


@register("sent_normalize", oracle=_NORMALIZE_ORACLE)
def sent_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = sent_quality_score(spark, sf_dir)
    w = Window.partitionBy("sentiment")
    lo, hi = F.min("original_score").over(w), F.max("original_score").over(w)
    return scored.select(
        "doc_id",
        "sentiment",
        F.round(
            F.when(hi > lo, (F.col("original_score") - lo) / (hi - lo)).otherwise(
                F.lit(0.5)
            ),
            6,
        ).alias("normalized_score"),
    )


# ---------------------------------------------------------------------------
# per-date sentiment trends. The synthetic corpus carries no embedded dates,
# so visit_date is a deterministic doc_id-derived date (stands in for
# extract_date_from_text; the regex extractor itself is covered by
# text_extract_dates in text_ops). Parity: trends build (Context_analyzer:687).
# ---------------------------------------------------------------------------

_SQL_TRENDS_CTE = """
trends AS (
  SELECT date '2024-01-01' + cast(doc_id % 30 as int) AS visit_date,
         cast(sum(CASE WHEN sentiment = 'POSITIVE' THEN 1 ELSE 0 END) as bigint) AS positive,
         cast(sum(CASE WHEN sentiment = 'NEGATIVE' THEN 1 ELSE 0 END) as bigint) AS negative,
         cast(sum(CASE WHEN sentiment = 'NEUTRAL' THEN 1 ELSE 0 END) as bigint) AS neutral,
         count(*) AS total
  FROM labeled
  GROUP BY 1
)
"""

_TRENDS_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE},
{_SQL_TRENDS_CTE}
SELECT cast(visit_date as timestamp) AS visit_date,
       positive, negative, neutral, total
FROM trends
"""


def trends_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = classified(spark, sf_dir)
    visit_date = F.date_add(
        F.to_date(F.lit("2024-01-01")), (F.col("doc_id") % 30).cast("int")
    )
    cnt = lambda s: F.sum(F.when(F.col("sentiment") == s, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return (
        lab.withColumn("visit_date", visit_date)
        .groupBy("visit_date")
        .agg(
            cnt("POSITIVE").alias("positive"),
            cnt("NEGATIVE").alias("negative"),
            cnt("NEUTRAL").alias("neutral"),
            F.count(F.lit(1)).alias("total"),
        )
    )


@register("sent_trends", oracle=_TRENDS_ORACLE)
def sent_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    # visit_date as timestamp, not date: Spark DateType surfaces as
    # datetime.date in pandas while DuckDB DATE surfaces as a midnight
    # datetime64 — the driver's value hash sees different strings.
    df = trends_df(spark, sf_dir)
    return df.withColumn("visit_date", F.col("visit_date").cast("timestamp"))


# ---------------------------------------------------------------------------
# insurance-risk scoring — full parity with insurance_calculator.py:
# calculate_insurance_risk (:13), _analyze_trend_risk (:135),
# _calculate_risk_score (:189), _determine_risk_level (:222).
# Everything reduces to scalars first (tiny crossJoins), so this costs one
# pass over documents regardless of scale.
# ---------------------------------------------------------------------------

_RISK_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE},
{_SQL_TRENDS_CTE},
stats AS (
  SELECT count(*) AS n,
         sum(CASE WHEN sentiment = 'POSITIVE' THEN 1 ELSE 0 END) AS n_pos,
         sum(CASE WHEN sentiment = 'NEGATIVE' THEN 1 ELSE 0 END) AS n_neg,
         sum(CASE WHEN sentiment = 'NEUTRAL' THEN 1 ELSE 0 END) AS n_neu,
         cast(sum(cast(confidence as decimal(30,10))) as double) AS conf_sum,
         cast(sum(cast(confidence * confidence as decimal(30,10))) as double) AS conf_sumsq
  FROM labeled
),
tr AS (
  SELECT *, row_number() OVER (ORDER BY visit_date DESC) AS rn,
         count(*) OVER () AS n_dates
  FROM trends
),
tr_agg AS (
  SELECT max(n_dates) AS n_dates,
         {sql_dsum('CASE WHEN rn <= 14 THEN total ELSE 0 END', 'recent_total')},
         {sql_dsum('CASE WHEN rn <= 14 THEN negative ELSE 0 END', 'recent_neg')},
         {sql_dsum('CASE WHEN rn BETWEEN 15 AND 28 THEN total ELSE 0 END', 'prev_total')},
         {sql_dsum('CASE WHEN rn BETWEEN 15 AND 28 THEN negative ELSE 0 END', 'prev_neg')},
         {sql_dsum('CASE WHEN rn <= 3 THEN total ELSE 0 END', 'last3_total')},
         {sql_dsum('CASE WHEN rn <= 3 THEN negative ELSE 0 END', 'last3_neg')}
  FROM tr
),
scalars AS (
  SELECT s.*, t.*,
         s.conf_sum / s.n AS avg_conf,
         CASE WHEN s.n > 1 THEN sqrt(greatest((s.conf_sumsq - s.conf_sum * s.conf_sum / s.n) / (s.n - 1), 0.0)) ELSE 0.0 END AS conf_std,
         s.n_pos * 1.0 / s.n AS pos_ratio,
         s.n_neg * 1.0 / s.n AS neg_ratio,
         s.n_neu * 1.0 / s.n AS neu_ratio
  FROM stats s, tr_agg t
),
mult AS (
  SELECT *,
    (1.5 - avg_conf * 0.5) * (CASE WHEN conf_std > 0.2 THEN 1.1 ELSE 1.0 END) AS conf_mult,
    (1.0 + neg_ratio * 2.5 + neu_ratio * 0.5)
      * (CASE WHEN pos_ratio > 0.85 THEN 0.85 WHEN pos_ratio > 0.75 THEN 0.95 ELSE 1.0 END) AS sent_mult,
    CASE WHEN n < 50 THEN 1.3 WHEN n < 100 THEN 1.15 ELSE 1.0 END AS sample_mult,
    CASE
      WHEN n_dates < 7 OR recent_total = 0 THEN 1.0
      WHEN n_dates >= 28 AND prev_total > 0
           AND recent_neg / recent_total > (prev_neg / prev_total) * 1.5 THEN 1.4
      WHEN n_dates >= 28 AND prev_total > 0
           AND recent_neg / recent_total > (prev_neg / prev_total) * 1.2 THEN 1.2
      WHEN n_dates >= 28 AND prev_total > 0
           AND recent_neg / recent_total < (prev_neg / prev_total) * 0.7 THEN 0.9
      WHEN last3_total > 0 AND last3_neg / last3_total > 0.3 THEN 1.3
      ELSE 1.0
    END AS trend_mult
  FROM scalars
),
scored AS (
  SELECT *,
    neg_ratio * 200
      + (CASE WHEN pos_ratio < 0.6 THEN (0.6 - pos_ratio) * 50 ELSE 0.0 END)
      + (CASE WHEN avg_conf < 0.9 THEN (0.9 - avg_conf) * 100 ELSE 0.0 END)
      + (CASE WHEN n < 100 THEN (100 - n) / 10.0 ELSE 0.0 END)
      + (CASE WHEN trend_mult > 1.0 THEN (trend_mult - 1.0) * 25 ELSE 0.0 END) AS raw_score
  FROM mult
)
SELECT n AS total_samples,
       round(pos_ratio, 6) AS positive_ratio,
       round(neg_ratio, 6) AS negative_ratio,
       round(neu_ratio, 6) AS neutral_ratio,
       round(avg_conf, 6) AS avg_confidence,
       round(conf_std, 6) AS confidence_std,
       round(sent_mult, 6) AS sentiment_multiplier,
       round(conf_mult, 6) AS confidence_multiplier,
       round(sample_mult, 6) AS sample_multiplier,
       round(trend_mult, 6) AS trend_multiplier,
       round({BASE_RATE} * sent_mult * conf_mult * sample_mult * trend_mult, 2) AS insurance_cost,
       cast(least(floor(raw_score), 100) as int) AS risk_score,
       CASE WHEN least(floor(raw_score), 100) >= 70 THEN 'Critical'
            WHEN least(floor(raw_score), 100) >= 50 THEN 'High'
            WHEN least(floor(raw_score), 100) >= 30 THEN 'Medium'
            ELSE 'Low' END AS risk_level
FROM scored
"""


# The scalar aggregates and the multiplier/score chain below are built
# as SQL text, one parsed expression per column (the ``minhash_sig_exprs``
# idiom): one py4j round trip per column instead of one per Column
# sub-expression (about 850 for this stage). Float literals carry the
# ``D`` suffix so they stay doubles (a bare ``0.5`` parses as a decimal),
# and each expression keeps the operand order of the Column operators, so
# the analyzed plan is the same.
_CNT = "sum(CASE WHEN sentiment = '{}' THEN 1 ELSE 0 END)"
_IN_RANGE = "CASE WHEN ((rn >= {1}) AND (rn <= {2})) THEN {0} ELSE 0 END"


@register("sent_trend_risk", oracle=_RISK_ORACLE)
def sent_trend_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = classified(spark, sf_dir)
    stats = lab.agg(
        *[
            F.expr(f"{e} AS {name}")
            for name, e in (
                ("n", "count(1)"),
                ("n_pos", _CNT.format("POSITIVE")),
                ("n_neg", _CNT.format("NEGATIVE")),
                ("n_neu", _CNT.format("NEUTRAL")),
                ("conf_sum", spark_dsum_sql("confidence")),
                ("conf_sumsq", spark_dsum_sql("(confidence * confidence)")),
            )
        ]
    )

    tr = trends_df(spark, sf_dir).withColumn(
        "rn", F.expr("row_number() OVER (ORDER BY visit_date DESC)")
    )
    tr_agg = tr.agg(
        F.expr("count(1) AS n_dates"),
        *[
            F.expr(f"{spark_dsum_sql(_IN_RANGE.format(col, lo, hi))} AS {name}")
            for name, col, lo, hi in (
                ("recent_total", "total", 1, 14),
                ("recent_neg", "negative", 1, 14),
                ("prev_total", "total", 15, 28),
                ("prev_neg", "negative", 15, 28),
                ("last3_total", "total", 1, 3),
                ("last3_neg", "negative", 1, 3),
            )
        ],
    )

    return risk_from_scalars(stats.crossJoin(tr_agg))


def _exprs(cols: dict[str, str]) -> dict[str, Column]:
    return {name: F.expr(e) for name, e in cols.items()}


def risk_from_scalars(sc: DataFrame) -> DataFrame:
    """insurance_calculator.py's multiplier/score chain as pure column
    arithmetic over the ONE-row scalar frame (n, n_pos, n_neg, n_neu,
    conf_sum, conf_sumsq, n_dates, recent_total, recent_neg, prev_total,
    prev_neg, last3_total, last3_neg). Kept apart from sent_trend_risk so
    the golden fixtures (tests/test_reference_golden.py) can drive the
    published multipliers with literal scalar rows, independent of the
    corpus-derived aggregation above."""
    sc = sc.withColumns(
        _exprs(
            {
                "avg_conf": "(conf_sum / n)",
                "conf_std": "CASE WHEN (n > 1) THEN sqrt(greatest(((conf_sumsq"
                " - ((conf_sum * conf_sum) / n)) / (n - 1)), 0.0D)) ELSE 0.0D END",
                "pos_ratio": "((n_pos * 1.0D) / n)",
                "neg_ratio": "((n_neg * 1.0D) / n)",
                "neu_ratio": "((n_neu * 1.0D) / n)",
            }
        )
    )
    has_prev = "((n_dates >= 28) AND (prev_total > 0))"
    recent, prev = "(recent_neg / recent_total)", "(prev_neg / prev_total)"
    sc = sc.withColumns(
        _exprs(
            {
                "conf_mult": "((1.5D - (avg_conf * 0.5D))"
                " * CASE WHEN (conf_std > 0.2D) THEN 1.1D ELSE 1.0D END)",
                "sent_mult": "((((neg_ratio * 2.5D) + 1.0D) + (neu_ratio * 0.5D))"
                " * CASE WHEN (pos_ratio > 0.85D) THEN 0.85D"
                " WHEN (pos_ratio > 0.75D) THEN 0.95D ELSE 1.0D END)",
                "sample_mult": "CASE WHEN (n < 50) THEN 1.3D"
                " WHEN (n < 100) THEN 1.15D ELSE 1.0D END",
                "trend_mult": "CASE WHEN ((n_dates < 7) OR (recent_total = 0)) THEN 1.0D"
                f" WHEN ({has_prev} AND ({recent} > ({prev} * 1.5D))) THEN 1.4D"
                f" WHEN ({has_prev} AND ({recent} > ({prev} * 1.2D))) THEN 1.2D"
                f" WHEN ({has_prev} AND ({recent} < ({prev} * 0.7D))) THEN 0.9D"
                " WHEN ((last3_total > 0) AND ((last3_neg / last3_total) > 0.3D))"
                " THEN 1.3D ELSE 1.0D END",
            }
        )
    )
    raw_score = (
        "(((((neg_ratio * 200)"
        " + CASE WHEN (pos_ratio < 0.6D) THEN ((0.6D - pos_ratio) * 50) ELSE 0.0D END)"
        " + CASE WHEN (avg_conf < 0.9D) THEN ((0.9D - avg_conf) * 100) ELSE 0.0D END)"
        " + CASE WHEN (n < 100) THEN ((100 - n) / 10.0D) ELSE 0.0D END)"
        " + CASE WHEN (trend_mult > 1.0D) THEN ((trend_mult - 1.0D) * 25) ELSE 0.0D END)"
    )
    risk = f"CAST(least(floor({raw_score}), 100) AS INT)"
    rounded = {
        "positive_ratio": "pos_ratio",
        "negative_ratio": "neg_ratio",
        "neutral_ratio": "neu_ratio",
        "avg_confidence": "avg_conf",
        "confidence_std": "conf_std",
        "sentiment_multiplier": "sent_mult",
        "confidence_multiplier": "conf_mult",
        "sample_multiplier": "sample_mult",
        "trend_multiplier": "trend_mult",
    }
    return sc.select(
        F.expr("n AS total_samples"),
        *[F.expr(f"round({c}, 6) AS {name}") for name, c in rounded.items()],
        F.expr(
            f"round(((({BASE_RATE}D * sent_mult) * conf_mult) * sample_mult)"
            " * trend_mult, 2) AS insurance_cost"
        ),
        F.expr(f"{risk} AS risk_score"),
        F.expr(
            f"CASE WHEN ({risk} >= 70) THEN 'Critical' WHEN ({risk} >= 50) THEN 'High'"
            f" WHEN ({risk} >= 30) THEN 'Medium' ELSE 'Low' END AS risk_level"
        ),
    )


# ---------------------------------------------------------------------------
# summarize_prompts — the reference's LLM summarization stage up to the
# external API boundary (summarize_sentiments_fun.py:39 create_summary_prompt,
# :75 6000-char truncation). Per sentiment: top representatives (highest
# confidence, deterministic ties) are numbered, tagged with confidence, and
# assembled into the exact prompt text; the Groq/LLM call itself is the
# external plug-point (swap in an Arrow pandas_udf calling the model server).
# Ordered aggregation = collect_list(struct) → array_sort → array_join, the
# partition-order-independent way to build ordered strings at scale.
# ---------------------------------------------------------------------------

_SUMMARY_TOP_N = 10
_SUMMARY_MAX_CHARS = 6000


_SUMMARIZE_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE},
top_c AS (
  SELECT sentiment, doc_id, text, confidence,
         row_number() OVER (PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS rk
  FROM labeled
), lines AS (
  SELECT sentiment, rk,
         rk || '. [Confidence: ' || cast(floor(confidence * 100) as int) || '%] ' || text AS line
  FROM top_c WHERE rk <= {_SUMMARY_TOP_N}
), agg AS (
  SELECT sentiment, count(*) AS n_comments,
         string_agg(line, chr(10) || chr(10) ORDER BY rk) AS combined
  FROM lines GROUP BY sentiment
), prompts AS (
  SELECT sentiment, n_comments,
         'Analyze the following ' || sentiment || ' comments from customer reviews and provide a concise summary in EXACTLY 2-3 sentences.'
         || chr(10) || chr(10) || sentiment || ' COMMENTS:' || chr(10) || combined || chr(10) || chr(10)
         || 'Write a brief summary (2-3 sentences ONLY) explaining what aspects the commenters found '
         || lower(sentiment) || '. Focus on the main themes and common patterns.' || chr(10) || chr(10) || 'Summary:' AS full_prompt
  FROM agg
)
SELECT sentiment, n_comments,
       CASE WHEN length(full_prompt) > {_SUMMARY_MAX_CHARS}
            THEN substring(full_prompt, 1, {_SUMMARY_MAX_CHARS}) || chr(10) || chr(10) || 'Summary:'
            ELSE full_prompt END AS prompt,
       length(full_prompt) > {_SUMMARY_MAX_CHARS} AS truncated
FROM prompts
"""


@register("summarize_prompts", oracle=_SUMMARIZE_ORACLE)
def summarize_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = classified(spark, sf_dir)
    w = Window.partitionBy("sentiment").orderBy(F.desc("confidence"), F.asc("doc_id"))
    top = (
        lab.select("sentiment", "doc_id", "text", "confidence")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _SUMMARY_TOP_N)
    )
    line = F.concat(
        F.col("rk").cast("string"),
        F.lit(". [Confidence: "),
        F.floor(F.col("confidence") * 100).cast("int").cast("string"),
        F.lit("%] "),
        F.col("text"),
    )
    agg = (
        top.withColumn("line", line)
        .groupBy("sentiment")
        .agg(
            F.count(F.lit(1)).alias("n_comments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "line"))),
                    lambda x: x["line"],
                ),
                "\n\n",
            ).alias("combined"),
        )
    )
    full_prompt = F.concat(
        F.lit("Analyze the following "),
        F.col("sentiment"),
        F.lit(
            " comments from customer reviews and provide a concise summary in "
            "EXACTLY 2-3 sentences.\n\n"
        ),
        F.col("sentiment"),
        F.lit(" COMMENTS:\n"),
        F.col("combined"),
        F.lit(
            "\n\nWrite a brief summary (2-3 sentences ONLY) explaining what "
            "aspects the commenters found "
        ),
        F.lower(F.col("sentiment")),
        F.lit(". Focus on the main themes and common patterns.\n\nSummary:"),
    )
    return agg.withColumn("full_prompt", full_prompt).select(
        "sentiment",
        "n_comments",
        F.when(
            F.length("full_prompt") > _SUMMARY_MAX_CHARS,
            F.concat(
                F.substring("full_prompt", 1, _SUMMARY_MAX_CHARS),
                F.lit("\n\nSummary:"),
            ),
        )
        .otherwise(F.col("full_prompt"))
        .alias("prompt"),
        (F.length("full_prompt") > _SUMMARY_MAX_CHARS).alias("truncated"),
    )


# ---------------------------------------------------------------------------
# recommendation_prompts — the reference's recommendation-prompt assembly
# (recommendation_fun.py:39 create_recommendation_prompt): combine the
# positive and negative summaries under an instruction prompt, with the
# same 6000-char truncation query_groq_api applies (recommendation_fun.py:66).
# The per-class summaries are LLM outputs in the reference (a stubbed
# plug-point here), so the deterministic stand-ins are the summarize_prompts
# rows the LLM would consume — swap in real responses without touching the
# assembly. The instruction itself is caller config in the reference
# (main_api.py:87 DEFAULT_PROMPT, config dir not in the snapshot); pinned
# to a repo constant so the output is reproducible.
# Scale shape: a single-row projection over a 3-row aggregate — free.
# ---------------------------------------------------------------------------

_REC_INSTRUCTION = (
    "Based on the following customer feedback summaries, provide specific, "
    "actionable recommendations to improve the product."
)
_REC_MAX_CHARS = 6000  # recommendation_fun.py:66 max_prompt_length
_REC_TAIL = "Please provide 3 actionable recommendations:"

_REC_ORACLE = f"""
WITH pivoted AS (
  SELECT max(CASE WHEN sentiment = 'POSITIVE' THEN prompt END) AS positive_summary,
         max(CASE WHEN sentiment = 'NEGATIVE' THEN prompt END) AS negative_summary
  FROM ({_SUMMARIZE_ORACLE})
), built AS (
  SELECT '{_REC_INSTRUCTION}'
         || chr(10) || chr(10) || 'POSITIVE FEEDBACK SUMMARY:' || chr(10)
         || coalesce(positive_summary, '')
         || chr(10) || chr(10) || 'NEGATIVE FEEDBACK SUMMARY:' || chr(10)
         || coalesce(negative_summary, '')
         || chr(10) || chr(10) || '{_REC_TAIL}' AS full_prompt
  FROM pivoted
)
SELECT CASE WHEN length(full_prompt) > {_REC_MAX_CHARS}
            THEN substring(full_prompt, 1, {_REC_MAX_CHARS})
                 || chr(10) || chr(10) || '{_REC_TAIL}'
            ELSE full_prompt END AS prompt,
       length(full_prompt) AS full_len,
       length(full_prompt) > {_REC_MAX_CHARS} AS truncated
FROM built
"""


@register("recommendation_prompts", oracle=_REC_ORACLE)
def recommendation_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = summarize_prompts(spark, sf_dir)
    pivoted = s.agg(
        F.max(F.when(F.col("sentiment") == "POSITIVE", F.col("prompt"))).alias(
            "positive_summary"
        ),
        F.max(F.when(F.col("sentiment") == "NEGATIVE", F.col("prompt"))).alias(
            "negative_summary"
        ),
    )
    full_prompt = F.concat(
        F.lit(_REC_INSTRUCTION),
        F.lit("\n\nPOSITIVE FEEDBACK SUMMARY:\n"),
        F.coalesce(F.col("positive_summary"), F.lit("")),
        F.lit("\n\nNEGATIVE FEEDBACK SUMMARY:\n"),
        F.coalesce(F.col("negative_summary"), F.lit("")),
        F.lit(f"\n\n{_REC_TAIL}"),
    )
    return pivoted.withColumn("full_prompt", full_prompt).select(
        F.when(
            F.length("full_prompt") > _REC_MAX_CHARS,
            F.concat(
                F.substring("full_prompt", 1, _REC_MAX_CHARS),
                F.lit(f"\n\n{_REC_TAIL}"),
            ),
        )
        .otherwise(F.col("full_prompt"))
        .alias("prompt"),
        F.length("full_prompt").alias("full_len"),
        (F.length("full_prompt") > _REC_MAX_CHARS).alias("truncated"),
    )


# ---------------------------------------------------------------------------
# sent_classify_arrow — the transformer-inference plug-point, exercised.
# The contract: an Arrow-batched mapInPandas stage takes (doc_id, text)
# and emits (pos_hits, neg_hits, raw_label, confidence, sentiment). Here
# the "model" is the same deterministic lexicon scorer implemented in
# Python/pandas — so the operator must hash-match the JVM classify oracle,
# proving a real DistilBERT pandas_udf can swap in without touching any
# downstream operator. Rounding uses decimal HALF_UP on the shortest float
# repr, replicating Spark's BigDecimal round semantics exactly.
# ---------------------------------------------------------------------------

_ARROW_CLASSIFY_SCHEMA = (
    "doc_id bigint, pos_hits int, neg_hits int, raw_label string, "
    "confidence double, sentiment string"
)


def _classify_batches(batches):
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    # Java default \s (non-unicode): [ \t\n\x0B\f\r]
    ws = re.compile("[ \t\n\x0b\f\r]+")
    pos_set, neg_set = set(S.POSITIVE_WORDS), set(S.NEGATIVE_WORDS)

    def round6(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    for pdf in batches:
        out = {
            "doc_id": pdf["doc_id"],
            "pos_hits": [],
            "neg_hits": [],
            "raw_label": [],
            "confidence": [],
            "sentiment": [],
        }
        for text in pdf["text"]:
            toks = ws.split(text.lower())
            p = sum(t in pos_set for t in toks)
            n = sum(t in neg_set for t in toks)
            conf = 0.5 if p + n == 0 else round6(0.5 + 0.5 * abs(p - n) / (p + n))
            raw = "POSITIVE" if p >= n else "NEGATIVE"
            out["pos_hits"].append(p)
            out["neg_hits"].append(n)
            out["raw_label"].append(raw)
            out["confidence"].append(conf)
            out["sentiment"].append(raw if conf > S.CONFIDENCE_THRESHOLD else "NEUTRAL")
        yield pd.DataFrame(out)


@register("sent_classify_arrow", oracle=_CLASSIFY_ORACLE)
def sent_classify_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(_classify_batches, schema=_ARROW_CLASSIFY_SCHEMA)


# ---------------------------------------------------------------------------
# rag_context_assemble — the chatbot's RAG context block, as data.
# Parity: _load_analysis_context + _build_context_prompt
# (chatbot_analyzer.py:43-181): distribution with percentages (:140-154),
# top-10 keywords per sentiment joined "word (count)" (:165-168), top-3
# representative examples quoted one per line (:171-174). The reference's
# per-class summaries/recommendations are LLM outputs (stubbed plug-points);
# example selection here is the deterministic confidence-ranked retrieval
# (the kmeans-representative variant composes via representatives_kmeans).
# Scale shape: three per-sentiment aggregates (3-row joins); the word count
# is the same map-side-combinable groupBy top_words uses; nothing global.
# ---------------------------------------------------------------------------

_CTX_TOP_WORDS = 10  # chatbot_analyzer.py:166 words[:10]
_CTX_TOP_EXAMPLES = 3  # chatbot_analyzer.py:172 reps[:3]
_CTX_STOP_SQL = ", ".join(f"'{w}'" for w in S.STOPWORDS)

_CTX_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE},
dist AS (
  SELECT sentiment, count(*) AS n_reviews,
         round(count(*) * 100.0 / sum(count(*)) OVER (), 1) AS pct
  FROM labeled GROUP BY sentiment
),
words AS (
  SELECT sentiment, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM labeled
), counted AS (
  SELECT sentiment, word, count(*) AS cnt FROM words
  WHERE word NOT IN ({_CTX_STOP_SQL}) AND word <> ''
  GROUP BY sentiment, word
), kw AS (
  SELECT sentiment,
         string_agg(word || ' (' || cnt || ')', ', ' ORDER BY cnt DESC, word)
           AS keywords
  FROM (SELECT *, row_number() OVER (PARTITION BY sentiment
                                     ORDER BY cnt DESC, word) AS rk
        FROM counted)
  WHERE rk <= {_CTX_TOP_WORDS} GROUP BY sentiment
), ex AS (
  SELECT sentiment,
         string_agg('- "' || text || '"', chr(10)
                    ORDER BY confidence DESC, doc_id) AS examples
  FROM (SELECT sentiment, text, confidence, doc_id,
               row_number() OVER (PARTITION BY sentiment
                                  ORDER BY confidence DESC, doc_id) AS rk
        FROM labeled)
  WHERE rk <= {_CTX_TOP_EXAMPLES} GROUP BY sentiment
)
SELECT d.sentiment, d.n_reviews, d.pct, k.keywords, e.examples,
       d.sentiment || ': ' || d.n_reviews || ' reviews ('
         || cast(d.pct as varchar) || '%)' || chr(10)
         || d.sentiment || ' Keywords: ' || coalesce(k.keywords, '')
         || chr(10) || d.sentiment || ' Examples:' || chr(10)
         || coalesce(e.examples, '') AS context_block
FROM dist d
LEFT JOIN kw k ON d.sentiment = k.sentiment
LEFT JOIN ex e ON d.sentiment = e.sentiment
"""


@register("rag_context_assemble", oracle=_CTX_ORACLE)
def rag_context_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = classified(spark, sf_dir)
    dist = (
        lab.groupBy("sentiment")
        .agg(F.count(F.lit(1)).alias("n_reviews"))
        .withColumn(
            "pct",
            F.round(
                F.col("n_reviews")
                * 100.0
                / F.sum("n_reviews").over(Window.partitionBy()),
                1,
            ),
        )
    )
    words = lab.select(
        "sentiment", F.explode(S.tokens(F.col("text"))).alias("word")
    ).where(~F.col("word").isin(*S.STOPWORDS) & (F.col("word") != ""))
    counted = words.groupBy("sentiment", "word").agg(F.count(F.lit(1)).alias("cnt"))
    w_kw = Window.partitionBy("sentiment").orderBy(F.desc("cnt"), F.asc("word"))
    ordered_join = lambda col, sep: F.array_join(  # noqa: E731
        F.transform(
            F.array_sort(F.collect_list(F.struct("rk", col))),
            lambda x: x[col],
        ),
        sep,
    )
    kw = (
        counted.withColumn("rk", F.row_number().over(w_kw))
        .where(F.col("rk") <= _CTX_TOP_WORDS)
        .withColumn(
            "item",
            F.concat(
                F.col("word"), F.lit(" ("), F.col("cnt").cast("string"), F.lit(")")
            ),
        )
        .groupBy("sentiment")
        .agg(ordered_join("item", ", ").alias("keywords"))
    )
    w_ex = Window.partitionBy("sentiment").orderBy(
        F.desc("confidence"), F.asc("doc_id")
    )
    ex = (
        lab.select("sentiment", "confidence", "doc_id", "text")
        .withColumn("rk", F.row_number().over(w_ex))
        .where(F.col("rk") <= _CTX_TOP_EXAMPLES)
        .withColumn("quoted", F.concat(F.lit('- "'), F.col("text"), F.lit('"')))
        .groupBy("sentiment")
        .agg(ordered_join("quoted", "\n").alias("examples"))
    )
    out = dist.join(kw, "sentiment", "left").join(ex, "sentiment", "left")
    block = F.concat(
        F.col("sentiment"),
        F.lit(": "),
        F.col("n_reviews").cast("string"),
        F.lit(" reviews ("),
        F.col("pct").cast("string"),
        F.lit("%)\n"),
        F.col("sentiment"),
        F.lit(" Keywords: "),
        F.coalesce(F.col("keywords"), F.lit("")),
        F.lit("\n"),
        F.col("sentiment"),
        F.lit(" Examples:\n"),
        F.coalesce(F.col("examples"), F.lit("")),
    )
    return out.withColumn("context_block", block)
