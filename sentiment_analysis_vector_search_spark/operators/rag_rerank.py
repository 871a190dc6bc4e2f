"""MMR-diversified retrieval re-ranking (Carbonell & Goldstein 1998).

Pure top-k cosine retrieval returns near-duplicate chunks (overlapping
windows of the same document all score alike — exactly what the
reference's whole-document vector search, Context_analyzer_RoBERTa_fun
.py, avoids by retrieving at document grain). Maximal Marginal
Relevance fixes that at chunk grain: greedily pick the candidate
maximizing ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)``.

Shape: retrieval narrows corpus → _POOL candidates FIRST (exact cosine
top-k, TakeOrderedAndProject — the only corpus-sized stage), then the
greedy selection runs unrolled over the pooled relation: each pick is
an argmax (orderBy+limit 1) over ≤_POOL rows joined against the
already-picked 1-row broadcast relations. The k selection steps are
inherently sequential (each depends on the previous pick) — that is
MMR's definition, not a Spark limitation — but every step touches only
pool-sized data, so the corpus is scanned exactly once at ANY scale.
Embeddings are the deterministic md5 hash-embeddings shared with
rag_chunk_retrieve (the encoder plug-point); every double on both
engines is bit-identical, so no rounding is needed anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, table
from ..functions.vectors import dot
from ..registry import register
from .rag_prep import _chunks, _N_CHUNKS_SQL, _spark_emb, _sql_emb

_POOL = 10
_K = 3  # unrolled below; each step is pool-sized work
_LAM = 0.7
_ONE_MINUS_LAM = 0.3  # literal, so neither engine computes 1 - 0.7

_SQL_COS = (
    "(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)

_MMR_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id, cast(i as bigint) AS chunk_id,
         cast(doc_id as varchar) || ':' || cast(i as varchar) AS key
  FROM documents, unnest(range(0, {_N_CHUNKS_SQL})) AS t(i)
), emb AS (
  SELECT doc_id, chunk_id, {_sql_emb("key")} AS e FROM chunks
), q AS (
  SELECT {_sql_emb("'0:0'")} AS qe
), pool AS (
  SELECT doc_id, chunk_id, e, {_SQL_COS.format(a='e', b='qe')} AS rel
  FROM emb, q
  ORDER BY rel DESC, doc_id, chunk_id
  LIMIT {_POOL}
), s1 AS (
  SELECT * FROM pool ORDER BY rel DESC, doc_id, chunk_id LIMIT 1
), m2 AS (
  SELECT p.doc_id, p.chunk_id, p.e, p.rel,
         {_LAM} * p.rel
           - {_ONE_MINUS_LAM} * {_SQL_COS.format(a='p.e', b='s1.e')} AS mmr
  FROM pool p, s1
  WHERE NOT (p.doc_id = s1.doc_id AND p.chunk_id = s1.chunk_id)
), s2 AS (
  SELECT * FROM m2 ORDER BY mmr DESC, doc_id, chunk_id LIMIT 1
), m3 AS (
  SELECT p.doc_id, p.chunk_id, p.rel,
         {_LAM} * p.rel - {_ONE_MINUS_LAM} * greatest(
           {_SQL_COS.format(a='p.e', b='s1.e')},
           {_SQL_COS.format(a='p.e', b='s2.e')}) AS mmr
  FROM pool p, s1, s2
  WHERE NOT (p.doc_id = s1.doc_id AND p.chunk_id = s1.chunk_id)
    AND NOT (p.doc_id = s2.doc_id AND p.chunk_id = s2.chunk_id)
), s3 AS (
  SELECT * FROM m3 ORDER BY mmr DESC, doc_id, chunk_id LIMIT 1
)
SELECT 1 AS pick, doc_id, chunk_id, rel, rel AS mmr FROM s1
UNION ALL SELECT 2, doc_id, chunk_id, rel, mmr FROM s2
UNION ALL SELECT 3, doc_id, chunk_id, rel, mmr FROM s3
"""


def _cos_expr(a: str, b: str):
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _pick(df: DataFrame, order_col: str) -> DataFrame:
    return df.orderBy(F.col(order_col).desc(), "doc_id", "chunk_id").limit(1)


@register("rag_mmr_rerank", oracle=_MMR_ORACLE)
def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine pool → greedy MMR selection of 3 chunks.

    Scale shape: ONE corpus-sized stage (chunk → hash-embed → broadcast
    query → TakeOrdered pool); the unrolled greedy steps join the pooled
    10-row relation (lineage-cut) with 1-row broadcast picks."""
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
    # cut: multi-consumer — 3 consumers; the corpus is scanned once
    pool = cut(
        emb.join(F.broadcast(q))
        .select("doc_id", "chunk_id", "e", _cos_expr("e", "qe").alias("rel"))
        .orderBy(F.col("rel").desc(), "doc_id", "chunk_id")
        .limit(_POOL)
    )
    s1 = _pick(pool, "rel")
    p1 = F.broadcast(
        s1.select(
            F.col("doc_id").alias("d1"), F.col("chunk_id").alias("c1"),
            F.col("e").alias("e1"),
        )
    )
    m2 = (
        pool.join(p1)
        .where(~((F.col("doc_id") == F.col("d1")) & (F.col("chunk_id") == F.col("c1"))))
        .select(
            "doc_id", "chunk_id", "e", "rel",
            (
                F.lit(_LAM) * F.col("rel")
                - F.lit(_ONE_MINUS_LAM) * _cos_expr("e", "e1")
            ).alias("mmr"),
        )
    )
    s2 = _pick(m2, "mmr")
    p2 = F.broadcast(
        s2.select(
            F.col("doc_id").alias("d2"), F.col("chunk_id").alias("c2"),
            F.col("e").alias("e2"),
        )
    )
    m3 = (
        pool.join(p1)
        .join(p2)
        .where(~((F.col("doc_id") == F.col("d1")) & (F.col("chunk_id") == F.col("c1"))))
        .where(~((F.col("doc_id") == F.col("d2")) & (F.col("chunk_id") == F.col("c2"))))
        .select(
            "doc_id", "chunk_id", "rel",
            (
                F.lit(_LAM) * F.col("rel")
                - F.lit(_ONE_MINUS_LAM)
                * F.greatest(_cos_expr("e", "e1"), _cos_expr("e", "e2"))
            ).alias("mmr"),
        )
    )
    s3 = _pick(m3, "mmr")
    return (
        s1.select(F.lit(1).alias("pick"), "doc_id", "chunk_id", "rel",
                  F.col("rel").alias("mmr"))
        .unionAll(s2.select(F.lit(2).alias("pick"), "doc_id", "chunk_id", "rel", "mmr"))
        .unionAll(s3.select(F.lit(3).alias("pick"), "doc_id", "chunk_id", "rel", "mmr"))
    )
