"""Text-analysis operators: the reference's extraction/cleaning machinery
plus the LLM-data-pipeline text suite (language ID, quality scoring, token
counting, fingerprinting, top-words, TF-IDF).

Parity targets: extract_text_fun.py (block split/clean/categorize),
Context_analyzer_RoBERTa_fun.py:34 (date extraction), :73 (TF-IDF),
vizualization.py (top words).

Scale notes: everything here is scan → explode → groupBy with map-side
partial aggregation; no Python UDFs, no driver-side loops. Explodes multiply
rows but stay within a stage (no shuffle until the aggregate), and the
aggregates key on (word) or (doc_id) — both well-distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..functions import sentiment as S
from ..functions.hashing import md5_long, sql_md5_long
from ..functions.stable import dsum
from ..registry import register

# ---------------------------------------------------------------------------
# text_extract_blocks — split_by_separators + clean + min-length filter +
# categorization (extract_text_fun.py:87,124). Separator chosen from the
# corpus vocabulary; the reference keeps the separator prefixed to every
# block after the first and drops blocks of <= 20 chars.
# ---------------------------------------------------------------------------

_SEPARATOR = "batch"
_MIN_BLOCK_CHARS = 20

_BLOCKS_ORACLE = f"""
WITH parts AS (
  SELECT doc_id, string_split(text, ' {_SEPARATOR} ') AS ps FROM documents
), blocks AS (
  SELECT doc_id,
         generate_subscripts(ps, 1) AS block_id,
         unnest(ps) AS raw_part
  FROM parts
), built AS (
  SELECT doc_id, block_id,
         CASE WHEN block_id = 1 THEN trim(raw_part)
              ELSE '{_SEPARATOR} ' || trim(raw_part) END AS block_text
  FROM blocks
)
SELECT doc_id, block_id, block_text,
       length(block_text) AS block_length,
       CASE WHEN contains(block_text, 'fast') OR contains(block_text, 'slow') THEN 'reviews'
            WHEN contains(block_text, 'vector') OR contains(block_text, 'query') THEN 'ratings'
            ELSE 'other' END AS category
FROM built
WHERE length(block_text) > {_MIN_BLOCK_CHARS}
"""


@register("text_extract_blocks", oracle=_BLOCKS_ORACLE)
def text_extract_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    parts = docs.select(
        "doc_id", F.split("text", f" {_SEPARATOR} ").alias("ps")
    ).select("doc_id", F.posexplode("ps").alias("pos", "raw_part"))
    block_text = F.when(F.col("pos") == 0, F.trim("raw_part")).otherwise(
        F.concat(F.lit(f"{_SEPARATOR} "), F.trim("raw_part"))
    )
    df = parts.select(
        "doc_id",
        (F.col("pos") + 1).cast("bigint").alias("block_id"),
        block_text.alias("block_text"),
    )
    category = (
        F.when(
            F.col("block_text").contains("fast") | F.col("block_text").contains("slow"),
            F.lit("reviews"),
        )
        .when(
            F.col("block_text").contains("vector")
            | F.col("block_text").contains("query"),
            F.lit("ratings"),
        )
        .otherwise(F.lit("other"))
    )
    return df.withColumns(
        {"block_length": F.length("block_text").cast("bigint"), "category": category}
    ).where(F.col("block_length") > _MIN_BLOCK_CHARS)


# ---------------------------------------------------------------------------
# text_extract_dates — extract_date_from_text parity (Context_analyzer:34).
# The synthetic corpus embeds no dates, so a deterministic "Date of visit:"
# suffix is appended in-query; the regex + month-name mapping under test is
# the reference's.
# ---------------------------------------------------------------------------

_MONTHS = (
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
)
_DATE_RE = r"Date of visit:\s*(\w+)\s+(\d{1,2}),?\s+(\d{4})"

_month_case_sql = "CASE lower(month_name) " + " ".join(
    f"WHEN '{m.lower()}' THEN '{i + 1:02d}'" for i, m in enumerate(_MONTHS)
) + " END"

_months_sql_list = "[" + ", ".join(f"'{m}'" for m in _MONTHS) + "]"

_DATES_ORACLE = f"""
WITH stamped AS (
  SELECT doc_id,
         text || ' Date of visit: ' || ({_months_sql_list})[cast(doc_id % 12 as int) + 1]
              || ' ' || cast(1 + doc_id % 28 as varchar) || ', 2025' AS text
  FROM documents
), extracted AS (
  SELECT doc_id,
         regexp_extract(text, '{_DATE_RE}', 1) AS month_name,
         regexp_extract(text, '{_DATE_RE}', 2) AS day_str,
         regexp_extract(text, '{_DATE_RE}', 3) AS year_str
  FROM stamped
)
SELECT doc_id,
       CASE WHEN month_name <> '' AND {_month_case_sql} IS NOT NULL
            THEN year_str || '-' || {_month_case_sql} || '-' || lpad(day_str, 2, '0')
            END AS visit_date
FROM extracted
"""


@register("text_extract_dates", oracle=_DATES_ORACLE)
def text_extract_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    month_name = F.element_at(
        F.array([F.lit(m) for m in _MONTHS]), (F.col("doc_id") % 12).cast("int") + 1
    )
    stamped = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Date of visit: "),
            month_name,
            F.lit(" "),
            (1 + F.col("doc_id") % 28).cast("string"),
            F.lit(", 2025"),
        ).alias("text"),
    )
    mname = F.regexp_extract("text", _DATE_RE, 1)
    day = F.regexp_extract("text", _DATE_RE, 2)
    year = F.regexp_extract("text", _DATE_RE, 3)
    mapping = F.create_map(
        *[x for i, m in enumerate(_MONTHS) for x in (F.lit(m.lower()), F.lit(f"{i + 1:02d}"))]
    )
    month_num = mapping[F.lower(mname)]
    visit_date = F.when(
        (mname != "") & month_num.isNotNull(),
        F.concat(year, F.lit("-"), month_num, F.lit("-"), F.lpad(day, 2, "0")),
    )
    return stamped.select("doc_id", visit_date.alias("visit_date"))


# ---------------------------------------------------------------------------
# top_words — stopword-filtered frequency ranking per sentiment class
# (vizualization.py word-frequency panels; top_words_count default 15).
# ---------------------------------------------------------------------------

_TOP_N = 15
_STOP_SQL = ", ".join(f"'{w}'" for w in S.STOPWORDS)

_TOPWORDS_ORACLE = f"""
WITH {S.SQL_CLASSIFIED_CTE},
words AS (
  SELECT sentiment, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM labeled
), counted AS (
  SELECT sentiment, word, count(*) AS cnt
  FROM words
  WHERE word NOT IN ({_STOP_SQL}) AND word <> ''
  GROUP BY sentiment, word
)
SELECT sentiment, word, cnt, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY sentiment ORDER BY cnt DESC, word) AS rk
  FROM counted
) WHERE rk <= {_TOP_N}
"""


@register("top_words", oracle=_TOPWORDS_ORACLE)
def top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sentiment_ops import classified

    lab = classified(spark, sf_dir)
    words = lab.select(
        "sentiment", F.explode(S.tokens(F.col("text"))).alias("word")
    ).where(~F.col("word").isin(*S.STOPWORDS) & (F.col("word") != ""))
    counted = words.groupBy("sentiment", "word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("sentiment").orderBy(F.desc("cnt"), F.asc("word"))
    return counted.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOP_N)


# ---------------------------------------------------------------------------
# tfidf_vectors — DataFrame-native TF-IDF with sklearn-compatible smoothing
# (create_text_vectors parity, Context_analyzer:73: min_df=4, max_df=0.8,
# max_features=1000, l2-normalized rows). The vocabulary is an aggregate
# (broadcastable at scale); tf is a (doc, word) count — no cross join.
# ---------------------------------------------------------------------------

# Constants + oracle CTE live in functions/tfidf.py (registration-free) so
# other modules can share them without importing this module's registrations;
# re-exported here for the Spark-side implementation and existing callers.
from ..functions.tfidf import MAX_DF as _MAX_DF
from ..functions.tfidf import MAX_FEATURES as _MAX_FEATURES
from ..functions.tfidf import MIN_DF as _MIN_DF
from ..functions.tfidf import SQL_TFIDF_CTE

_TFIDF_ORACLE = f"""
WITH {SQL_TFIDF_CTE}
SELECT doc_id, word, tfidf FROM tfidf_rows
"""


@register("tfidf_vectors", oracle=_TFIDF_ORACLE)
def tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(S.tokens(F.col("text"))).alias("word")).where(
        ~F.col("word").isin(*S.STOPWORDS) & (F.col("word") != "")
    )
    # cut: multi-consumer — vocab, the weighted join, and via weighted
    # both the norm aggregate and the final join; uncut, the plan re-ran
    # the tokenize-explode + (doc, word) groupBy once per branch.
    tf = cut(words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf")))
    n_docs = docs.count()  # scalar; table stats — not a per-row collect
    vocab = tf.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition top-k,
    # merged) — unlike a global row_number window, no single-partition shuffle
    # of the full vocabulary at scale.
    kept = (
        vocab.where((F.col("df") >= _MIN_DF) & (F.col("df") <= _MAX_DF * n_docs))
        .orderBy(F.desc("total_tf"), F.asc("word"))
        .limit(_MAX_FEATURES)
        .select("word", "df")
    )
    weighted = tf.join(F.broadcast(kept), "word").select(
        "doc_id",
        "word",
        (
            F.col("tf")
            * (F.log((1.0 + F.lit(n_docs)) / (1.0 + F.col("df"))) + F.lit(1.0))
        ).alias("w"),
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(dsum(F.col("w") * F.col("w"))).alias("norm")
    )
    return weighted.join(norms, "doc_id").select(
        "doc_id", "word", F.round(F.col("w") / F.col("norm"), 6).alias("tfidf")
    )


# ---------------------------------------------------------------------------
# text_lang_id — stopword-profile n-gram heuristic (LLM-pipeline addition).
# Deterministic argmax with fixed preference order on ties.
# ---------------------------------------------------------------------------

_LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}

_lang_hits_sql = {
    lang: f"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x in ({', '.join(repr(w) for w in ws)})))"
    for lang, ws in _LANG_PROFILES.items()
}

_LANGID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {_lang_hits_sql['en']} AS en_hits,
         {_lang_hits_sql['es']} AS es_hits,
         {_lang_hits_sql['fr']} AS fr_hits,
         {_lang_hits_sql['de']} AS de_hits
  FROM documents
)
SELECT doc_id, labeled_lang, en_hits, es_hits, fr_hits, de_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
            WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
            WHEN fr_hits >= de_hits THEN 'fr'
            ELSE 'de' END AS pred_lang
FROM scored
"""


@register("text_lang_id", oracle=_LANGID_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = S.tokens(F.col("text"))

    def _hits(ws: tuple[str, ...]):
        return F.size(F.filter(toks, lambda x: x.isin(*ws)))

    hits = {lang: _hits(ws) for lang, ws in _LANG_PROFILES.items()}
    df = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["fr"].alias("fr_hits"),
        hits["de"].alias("de_hits"),
    )
    en, es, fr, de = (F.col(c) for c in ("en_hits", "es_hits", "fr_hits", "de_hits"))
    pred = (
        F.when((en >= es) & (en >= fr) & (en >= de), F.lit("en"))
        .when((es >= fr) & (es >= de), F.lit("es"))
        .when(fr >= de, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return df.withColumn("pred_lang", pred)


# ---------------------------------------------------------------------------
# text_quality — heuristic quality features for corpus filtering.
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars_calc,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         len(list_distinct(string_split_regex(lower(text), '\\s+'))) AS n_distinct,
         length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x in ({_STOP_SQL}))) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars_calc, n_tokens,
       round(n_distinct * 1.0 / n_tokens, 6) AS distinct_ratio,
       round(n_punct * 1.0 / n_chars_calc, 6) AS punct_ratio,
       round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
       round((n_chars_calc - n_tokens + 1) * 1.0 / n_tokens, 6) AS avg_token_len
FROM feats
"""


@register("text_quality", oracle=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = S.tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_punct = n_chars - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*S.STOPWORDS)))
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_calc"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(n_distinct * F.lit(1.0) / n_tokens, 6).alias("distinct_ratio"),
        F.round(n_punct * F.lit(1.0) / n_chars, 6).alias("punct_ratio"),
        F.round(n_stop * F.lit(1.0) / n_tokens, 6).alias("stopword_ratio"),
        F.round((n_chars - n_tokens + 1) * F.lit(1.0) / n_tokens, 6).alias(
            "avg_token_len"
        ),
    )


# ---------------------------------------------------------------------------
# text_token_count — whitespace + BPE-ish regex tokenization counts.
# ---------------------------------------------------------------------------

from ..functions.tfidf import BPE_RE as _BPE_RE  # shared with corpus_data_card

_TOKCOUNT_ORACLE = f"""
SELECT doc_id,
       len(string_split_regex(lower(text), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
       round(length(text) * 1.0 / len(regexp_extract_all(lower(text), '{_BPE_RE}')), 6) AS chars_per_token
FROM documents
"""


@register("text_token_count", oracle=_TOKCOUNT_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_ws = F.size(S.tokens(F.col("text")))
    n_bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        n_ws.cast("bigint").alias("n_ws_tokens"),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.round(F.length("text") * F.lit(1.0) / n_bpe, 6).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# text_fingerprint — min-hash over 8-char shingles (winnowing-lite document
# fingerprint for near-dup candidate generation). One bigint per doc.
# ---------------------------------------------------------------------------

_SHINGLE = 8

_FP_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(1, greatest(length(text) - {_SHINGLE} + 2, 2))) AS p
  FROM documents
), shingles AS (
  SELECT doc_id, substring(text, cast(p as int), {_SHINGLE}) AS sh FROM pos
)
SELECT doc_id, min({sql_md5_long('sh')}) AS fingerprint
FROM shingles GROUP BY doc_id
"""


@register("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - _SHINGLE + 1, F.lit(1))
    )
    sh = docs.select("doc_id", "text", F.explode(positions).alias("pos")).select(
        "doc_id", F.expr(f"substring(text, pos, {_SHINGLE})").alias("sh")
    )
    return sh.groupBy("doc_id").agg(F.min(md5_long(F.col("sh"))).alias("fingerprint"))


# ---------------------------------------------------------------------------
# doc_top_keywords — per-document top-3 TF-IDF terms (the keyword
# extraction the reference's summaries surface per comment cluster).
# Window partitioned by doc_id over the tfidf rows — keyed, scalable.
# ---------------------------------------------------------------------------


def _top_keywords_oracle() -> str:
    return f"""
WITH {SQL_TFIDF_CTE}
SELECT doc_id, word, tfidf, rk FROM (
  SELECT doc_id, word, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
  FROM tfidf_rows
) WHERE rk <= 3
"""


@register("doc_top_keywords", oracle=_top_keywords_oracle())
def doc_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tfidf = tfidf_vectors(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return tfidf.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)
