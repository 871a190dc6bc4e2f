"""RAG / training-data preparation suite: the steps between a curated
corpus and a retrieval index or an embedding-model training set.

Reference parity: the reference embeds whole review documents and serves
vector search over them (Context_analyzer_RoBERTa_fun.py builds the
embedding matrix, SentimentAPI serves nearest-neighbor queries). Real
corpora are chunked before embedding — the retrieval unit is a bounded
window, not a document — so this suite adds the chunking layer plus the
training-pair mining and split bookkeeping a pipeline at 100 TB needs:

- ``chunk_documents`` — fixed-size overlapping character windows with
  provenance (doc_id, chunk_id, offset). Pure scan-stage projection +
  generate: zero shuffles at any scale, chunk count derived per row.
- ``contrastive_pairs`` — (anchor, positive) pairs for embedding-model
  training: consecutive overlapping chunks of the same document are
  near-paraphrases (the classic "adjacent spans" self-supervision
  signal, cf. ICT / Contriever-style pair mining). One window per doc
  partition — no self-join.
- ``split_train_holdout`` — deterministic hash-based train/val/test
  assignment (80/10/10) that is stable across runs, engines, and
  cluster layouts; the doc_id-keyed md5 bucket means adding data never
  reshuffles existing assignments.
- ``rag_chunk_retrieve`` — end-to-end retrieval over the chunk layer:
  chunk → deterministic hash-embedding (the model-forward-pass
  plug-point, same contract as multimodal.text_embed_stub) → exact
  cosine top-k for a query vector. All JVM Column math (transform /
  aggregate / zip_with); the one-row query relation is broadcast.

Scale notes: chunking and embedding are map-only (scan-stage projection
→ generate); pairs use a per-doc window (shuffle keyed by doc_id, the
natural partitioning); retrieve is scan + broadcast scalar + top-k
(TakeOrderedAndProject — no global sort). Nothing collects to the
driver; nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, table
from ..functions.hashing import md5_long, sql_md5_long
from ..functions.vectors import dot
from ..registry import register

# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------

_CHUNK = 80  # window chars
_STRIDE = 60  # start-to-start distance (overlap = _CHUNK - _STRIDE)

# Chunks cover [i*stride, i*stride + chunk); generation stops with the
# first window that reaches the end of the document, so every character
# is covered exactly once by a "first owner" and short docs yield one
# chunk: n_chunks = 1 + ceil(max(len - chunk, 0) / stride).
_N_CHUNKS_SQL = f"1 + (greatest(length(text) - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE}"

_CHUNK_ORACLE = f"""
SELECT doc_id,
       cast(i as bigint) AS chunk_id,
       cast(i * {_STRIDE} as bigint) AS chunk_start,
       substring(text, cast(i * {_STRIDE} + 1 as int), {_CHUNK}) AS chunk_text,
       cast(length(substring(text, cast(i * {_STRIDE} + 1 as int), {_CHUNK}))
            as int) AS chunk_len
FROM documents, unnest(range(0, {_N_CHUNKS_SQL})) AS t(i)
"""


def _chunks(docs: DataFrame) -> DataFrame:
    """doc_id/chunk_id/chunk_start/chunk_text/chunk_len for every doc."""
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(F.length("text") - _CHUNK, F.lit(0)) + F.lit(_STRIDE - 1))
            / _STRIDE
        )
    ).cast("int")
    start = (F.col("chunk_id") * _STRIDE).cast("bigint")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            start.alias("chunk_start"),
            F.substring(
                F.col("text"), (F.col("chunk_id") * _STRIDE + 1).cast("int"), _CHUNK
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("int"))
    )


@register("chunk_documents", oracle=_CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunks(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# contrastive_pairs
# ---------------------------------------------------------------------------

_PAIRS_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id,
         cast(i as bigint) AS chunk_id,
         substring(text, cast(i * {_STRIDE} + 1 as int), {_CHUNK}) AS chunk_text
  FROM documents, unnest(range(0, {_N_CHUNKS_SQL})) AS t(i)
), paired AS (
  SELECT doc_id, chunk_id, chunk_text AS anchor_text,
         lead(chunk_text) OVER (PARTITION BY doc_id ORDER BY chunk_id)
           AS positive_text
  FROM chunks
)
SELECT doc_id, chunk_id AS anchor_chunk_id, anchor_text, positive_text
FROM paired WHERE positive_text IS NOT NULL
"""


@register("contrastive_pairs", oracle=_PAIRS_ORACLE)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = _chunks(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    return (
        ch.select(
            "doc_id",
            "chunk_id",
            F.col("chunk_text").alias("anchor_text"),
            F.lead("chunk_text").over(w).alias("positive_text"),
        )
        .where(F.col("positive_text").isNotNull())
        .withColumnRenamed("chunk_id", "anchor_chunk_id")
    )


# ---------------------------------------------------------------------------
# split_train_holdout
# ---------------------------------------------------------------------------

_TRAIN_PCT = 80
_VAL_PCT = 10  # test gets the remainder

_SPLIT_ORACLE = f"""
SELECT doc_id, lang,
       cast({sql_md5_long("'split:' || cast(doc_id as varchar)")} % 100 as int)
         AS bucket,
       CASE
         WHEN {sql_md5_long("'split:' || cast(doc_id as varchar)")} % 100
              < {_TRAIN_PCT} THEN 'train'
         WHEN {sql_md5_long("'split:' || cast(doc_id as varchar)")} % 100
              < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


@register("split_train_holdout", oracle=_SPLIT_ORACLE)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 assignment keyed on content-independent
    doc_id hash: stable under repartition, append-only growth, and
    engine choice (md5 bucket, not xxhash). The 'split:' salt decouples
    this bucketing from sample_stratified's percentile hash so the two
    gates don't correlate."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    ).cast("int")
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < _TRAIN_PCT, "train")
        .when(F.col("bucket") < _TRAIN_PCT + _VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# rag_chunk_retrieve
# ---------------------------------------------------------------------------

_R_DIM = 16
_R_TOPK = 10
_R_MOD = (1 << 31) - 1

# Deterministic hash-embedding of a chunk key (the model-forward-pass
# plug-point: swap for a real encoder; the retrieval plan is unchanged).
# val(key, p) = md5_long(key || '#' || p) % MOD / MOD — exact integer
# arithmetic divided by a constant, bit-identical on both engines.


def _sql_emb(key_expr: str) -> str:
    h = sql_md5_long(f"{key_expr} || '#' || cast(p as varchar)")
    return f"[({h} % {_R_MOD}) * 1.0 / {_R_MOD} FOR p IN range(0, {_R_DIM})]"


_RETRIEVE_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id, cast(i as bigint) AS chunk_id,
         cast(doc_id as varchar) || ':' || cast(i as varchar) AS key
  FROM documents, unnest(range(0, {_N_CHUNKS_SQL})) AS t(i)
), emb AS (
  SELECT doc_id, chunk_id, {_sql_emb("key")} AS e
  FROM chunks
), q AS (
  SELECT {_sql_emb("'0:0'")} AS qe
)
SELECT doc_id, chunk_id,
       round(list_dot_product(e, qe)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))),
             6) AS score
FROM emb, q
ORDER BY list_dot_product(e, qe)
           / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) DESC,
         doc_id, chunk_id
LIMIT {_R_TOPK}
"""


def _spark_emb(key: Column) -> Column:
    """array<double> hash-embedding; fold order fixed by transform's
    sequence so dot products associate identically on both engines."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(_R_DIM - 1)),
        lambda p: (
            F.conv(
                F.substring(
                    F.md5(F.concat(key, F.lit("#"), p.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
            % _R_MOD
        )
        * F.lit(1.0)
        / _R_MOD,
    )


@register("rag_chunk_retrieve", oracle=_RETRIEVE_ORACLE)
def rag_chunk_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The _R_DIM md5-embedding exprs per chunk are the expression-heavy
    # terminal projection fan_out exists for: on the single-split test
    # layout the whole corpus would hash on ONE task (no-op on real
    # multi-split layouts). chunk_documents itself stays un-fanned — its
    # contract is the zero-Exchange map-only plan.
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    chunks = _chunks(docs).select(
        "doc_id",
        "chunk_id",
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_id").cast("string")
        ).alias("key"),
    )
    emb = chunks.select("doc_id", "chunk_id", _spark_emb(F.col("key")).alias("e"))
    q = spark.range(1).select(_spark_emb(F.lit("0:0")).alias("qe"))
    scored = emb.join(F.broadcast(q)).select(
        "doc_id",
        "chunk_id",
        (
            dot("e", "qe")
            / (F.sqrt(dot("e", "e")) * F.sqrt(dot("qe", "qe")))
        ).alias("raw_score"),
    )
    return (
        scored.orderBy(F.col("raw_score").desc(), "doc_id", "chunk_id")
        .limit(_R_TOPK)
        .select("doc_id", "chunk_id", F.round("raw_score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# rag_hybrid_retrieve — reciprocal-rank fusion of two retrieval signals
# over the SAME document space: (a) keyword TF-IDF scoring for a fixed
# query-word set (the rag_retrieve signal) and (b) "more like this"
# similarity to a seed document in TF-IDF space (dot product of the
# l2-normalized vectors, i.e. the posting-list sparse cosine). RRF
# (Cormack et al.) is the standard hybrid-retrieval fuser: rank-based, so
# the two scores never need calibrating against each other.
#
# Reference parity: the reference serves pure vector search
# (Context_analyzer_RoBERTa_fun.py builds the matrix, chatbot_analyzer.py
# retrieves context); production RAG over the same corpus fuses keyword
# and vector rankings — this operator is that fusion expressed with the
# repo's two existing retrieval signals.
#
# Scale shape: the TF-IDF relation is computed once (lazy cut
# — three consumers would otherwise each replay its shuffles); the seed
# vector is one document's ≤MAX_FEATURES rows, broadcast into a
# posting-list equi-join on word (fan-out per word = that word's df —
# never all-pairs); both candidate lists are orderBy+limit
# (TakeOrderedAndProject), so the fusion join touches ≤2×CAND rows.
# ---------------------------------------------------------------------------

_HY_WORDS = ("slow", "query", "join")  # the rag_retrieve query-word set
_HY_SEED = 7  # seed document for the more-like-this leg
_HY_CAND = 50  # candidates per leg
_HY_K = 60  # RRF dampening constant (the literature default)
_HY_TOPK = 10

_hy_words_sql = ", ".join(f"'{w}'" for w in _HY_WORDS)


def _hybrid_oracle() -> str:
    from ..functions.stable import sql_dsum
    from ..functions.tfidf import SQL_TFIDF_CTE

    return f"""
WITH {SQL_TFIDF_CTE}
, kw AS (
  SELECT doc_id, {sql_dsum('tfidf', 'kscore')}
  FROM tfidf_rows WHERE word IN ({_hy_words_sql}) GROUP BY doc_id
), kw_rank AS (
  SELECT doc_id, ra FROM (
    SELECT doc_id, row_number() OVER (ORDER BY kscore DESC, doc_id) AS ra FROM kw
  ) WHERE ra <= {_HY_CAND}
), seed AS (
  SELECT word, tfidf AS sw FROM tfidf_rows WHERE doc_id = {_HY_SEED}
), sim AS (
  SELECT t.doc_id, {sql_dsum('t.tfidf * s.sw', 'sscore')}
  FROM tfidf_rows t JOIN seed s USING (word)
  WHERE t.doc_id <> {_HY_SEED} GROUP BY t.doc_id
), sim_rank AS (
  SELECT doc_id, rb FROM (
    SELECT doc_id, row_number() OVER (ORDER BY sscore DESC, doc_id) AS rb FROM sim
  ) WHERE rb <= {_HY_CAND}
), fused AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         a.ra AS kw_rank, b.rb AS sim_rank,
         round(coalesce(1.0 / ({_HY_K} + a.ra), 0.0)
               + coalesce(1.0 / ({_HY_K} + b.rb), 0.0), 6) AS rrf
  FROM kw_rank a FULL OUTER JOIN sim_rank b ON a.doc_id = b.doc_id
)
SELECT doc_id, rrf, kw_rank, sim_rank, rk FROM (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk FROM fused
) WHERE rk <= {_HY_TOPK}
"""


@register("rag_hybrid_retrieve", oracle=_hybrid_oracle())
def rag_hybrid_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stable import dsum
    from .text_ops import tfidf_vectors

    tfidf = cut(tfidf_vectors(spark, sf_dir))  # cut: multi-consumer — both legs and the seed

    # leg A: keyword TF-IDF score over the fixed query-word set
    kw = (
        tfidf.where(F.col("word").isin(*_HY_WORDS))
        .groupBy("doc_id")
        .agg(dsum(F.col("tfidf")).alias("kscore"))
    )
    kw_top = kw.orderBy(F.desc("kscore"), F.asc("doc_id")).limit(_HY_CAND)
    wa = Window.orderBy(F.desc("kscore"), F.asc("doc_id"))  # over <=CAND rows
    kw_rank = kw_top.select(
        "doc_id", F.row_number().over(wa).alias("kw_rank")
    )

    # leg B: more-like-this — sparse dot with the seed doc's vector
    # (rows are l2-normalized by construction, so dot ~ cosine)
    seed = tfidf.where(F.col("doc_id") == _HY_SEED).select(
        "word", F.col("tfidf").alias("sw")
    )
    sim = (
        tfidf.where(F.col("doc_id") != _HY_SEED)
        .join(F.broadcast(seed), "word")
        .groupBy("doc_id")
        .agg(dsum(F.col("tfidf") * F.col("sw")).alias("sscore"))
    )
    sim_top = sim.orderBy(F.desc("sscore"), F.asc("doc_id")).limit(_HY_CAND)
    wb = Window.orderBy(F.desc("sscore"), F.asc("doc_id"))  # over <=CAND rows
    sim_rank = sim_top.select(
        "doc_id", F.row_number().over(wb).alias("sim_rank")
    )

    fused = kw_rank.join(sim_rank, "doc_id", "full_outer").select(
        "doc_id",
        "kw_rank",
        "sim_rank",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(_HY_K) + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_HY_K) + F.col("sim_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))  # over <=2*CAND rows
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= _HY_TOPK)
        .select("doc_id", "rrf", "kw_rank", "sim_rank", "rk")
    )
