"""BM25 keyword retrieval + a persisted, incrementally-maintained
serving index for it.

The reference serves retrieval over an in-memory matrix rebuilt per
analysis run (Context_analyzer_RoBERTa_fun.py:73 builds vectors,
chatbot_analyzer.py:20 retrieves context). ``rag_retrieve`` re-expressed
the keyword leg as TF-IDF scoring; this module adds the ranking function
production keyword search actually serves — Okapi BM25 — and, more
importantly, the PERSISTED index that answers queries without touching
the corpus:

- ``bm25_retrieve`` (graded query): full-corpus BM25 top-k for a fixed
  query-word set, DuckDB-oracle-checked.
- ``build_text_index`` / ``text_index_query`` / ``text_index_add``:
  word-bucket-partitioned postings with doc length denormalized inline,
  so a query reads ONLY its query words' buckets (partition pruning),
  joins nothing corpus-sized, and recomputes df from the pruned postings
  (df/idf stay exact under incremental adds with no stored-weight
  invalidation — the frozen-derivation property the IVF/PQ/dedup indexes
  rely on). Corpus-level scalars (n_docs, total token count) live in a
  tiny JSON manifest updated ADDITIVELY per ingest batch.

Why BM25 and not persisted TF-IDF weights: a tfidf posting's weight
depends on global df AND the doc's l2 norm over all its words — any
ingest batch invalidates every stored weight. BM25's per-posting state
(tf, dl) depends only on the posting's own document; everything global
(df, N, avgdl) is cheap at query time. That is what makes the index
incrementally maintainable at 100 TB: `add` appends postings for the
new docs and bumps two counters, and a query after `add` is
byte-identical to one against a full rebuild (pytest-pinned).

Scale shape: the batch query's posting-list joins are word-keyed with
the ≤|query| df relation broadcast; the index query reads only the
query words' hash-bucket partitions (plan-asserted PartitionFilters);
top-k is orderBy+limit. Nothing collects but the manifest scalars.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..commit import applied_max, recover_swaps, write_json
from ..functions import sentiment as S
from ..functions.stable import dsum, sql_dsum, sql_stable_ln, with_stable_ln
from ..registry import register

_K1 = 1.2
_B = 0.75
_BM25_WORDS = ("slow", "query", "join")  # the rag_retrieve query-word set
_BM25_K = 10
_N_WORD_BUCKETS = int(os.environ.get("SPARK_GRAFT_TEXT_INDEX_BUCKETS", "64"))


def word_buckets_for(n_postings: int, rows_per_bucket: int = 125_000) -> int:
    """Stats-informed word-bucket count (r8 verdict #7): the query-side
    read opens the query words' bucket partitions, so the budget to hold
    ~constant as the corpus grows is PER-BUCKET posting volume — bucket
    count scales as next-pow2(n_postings / rows_per_bucket), floored at
    the hand default 64 (pruning granularity) and capped at 4096 (past
    that, per-bucket file counts beat per-bucket volume as the cost
    driver and compaction is the right lever). Feed total postings
    (n_docs x mean tokens/doc from ``stats.table_stats``, or the built
    index's own row count); the chosen value lands in ``manifest.json``
    and a mismatched reader refuses (existing provenance discipline).
    Export as SPARK_GRAFT_TEXT_INDEX_BUCKETS — the knob is read at
    import like the embedding band width."""
    want = 64
    while want < 4096 and n_postings > rows_per_bucket * want:
        want <<= 1
    return want

_STOP_SQL = ", ".join(f"'{w}'" for w in S.STOPWORDS)
_words_sql = ", ".join(f"'{w}'" for w in _BM25_WORDS)

# One shared scoring expression on each engine — identical operand types
# (everything double) and identical parenthesization, so the two engines
# execute the same IEEE operation sequence and 6-dp rounding can't flip
# ranks. k1+1, 1-b are pre-folded literals. The Lucene-style idf
# ln(1 + (n - df + 0.5)/(df + 0.5)) = ln((2n + 2)/(2df + 1)) is computed
# as a difference of stable_ln calls over exact integers (r10 verdict
# #3: engine-native ln is not correctly rounded, so a hashed 6-dp score
# could flip on a host whose libm differs by an ulp; stable_ln is
# bit-identical on both engines by construction).
_TERM_SQL = (
    f"({sql_stable_ln('2*n+2')} - {sql_stable_ln('2*df+1')})"
    " * (cast(tf as double) * 2.2)"
    " / (cast(tf as double)"
    "    + 1.2 * (0.25 + 0.75 * (cast(dl as double) / avgdl)))"
)
# Spark side (r11 verdict #2): the two stable_ln calls are staged as
# named columns (_ln_n2/_ln_df1 via with_stable_ln) instead of inlined —
# identical op DAG, bit-identical score, but ~17 KB less generated text
# per plan (the measured cause of bm25_retrieve's r11 0.75s->4.4s
# plan-compile regression). The oracle keeps the inline _TERM_SQL text.
_TERM_STAGED = (
    "(_ln_n2 - _ln_df1)"
    " * (cast(tf as double) * 2.2)"
    " / (cast(tf as double)"
    "    + 1.2 * (0.25 + 0.75 * (cast(dl as double) / avgdl)))"
)


def _stage_idf(postings: DataFrame) -> DataFrame:
    """Stage the BM25 idf's two stable_ln terms as short named columns
    on the postings relation (expects ``n``/``df`` integer columns)."""
    return with_stable_ln(
        with_stable_ln(postings, "2*n+2", "_ln_n2"), "2*df+1", "_ln_df1"
    )

_BM25_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words
  WHERE word NOT IN ({_STOP_SQL}) AND word <> ''
  GROUP BY doc_id, word
), dl AS (
  SELECT doc_id, cast(sum(tf) as bigint) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
), dfs AS (
  SELECT word, count(*) AS df FROM tf
  WHERE word IN ({_words_sql}) GROUP BY word
), scores AS (
  SELECT tf.doc_id, {sql_dsum(_TERM_SQL, 'score')}
  FROM tf JOIN dfs USING (word) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score, rk FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM scores
) WHERE rk <= {_BM25_K}
"""


def _tf_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, word, tf) — the tfidf CTE's tokenization (split on
    whitespace, lowercase, drop stopwords and empties)."""
    toks = docs.select(
        "doc_id",
        F.explode_outer(
            F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')")
        ).alias("word"),
    ).where(F.col("word").isNotNull())
    return (
        toks.where(~F.col("word").isin(*S.STOPWORDS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _score_topk_cols(postings: DataFrame, k: int = _BM25_K) -> DataFrame:
    """(doc_id, tf, dl, df, n, avgdl) postings -> raw-score BM25 top-k.
    ``n``/``avgdl`` arrive as COLUMNS (either literals from the manifest
    path via :func:`_score_topk`, or the corpus-stats relation cross-
    joined in by the batch queries — same values, bit-identical scores
    either way: the idf/tf math sees the same doubles)."""
    scored = (
        _stage_idf(postings)
        .groupBy("doc_id")
        .agg(dsum(F.expr(_TERM_STAGED)).alias("score"))
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # over <=k rows
    # RAW score, no round (SCALING rule 33): the decimal-summed
    # stable_ln-derived score is bit-identical cross-engine AND an exact
    # short decimal — the value class LIKELIEST to sit on a 1e-6
    # rounding midpoint (the psi sf0.001 tie); rounding it buys nothing.
    return topk.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "score", "rk"
    )


def _score_topk(
    postings: DataFrame, n: int, avgdl: float, k: int = _BM25_K
) -> DataFrame:
    """Scalar-stats form of :func:`_score_topk_cols` — the persisted-
    index path, whose n/avgdl are manifest scalars already on the
    driver. Shared with the batch query's column form so the two paths
    stay STRUCTURALLY identical (the pytest byte-identity pin)."""
    return _score_topk_cols(
        postings.withColumn("n", F.lit(n)).withColumn("avgdl", F.lit(avgdl)), k
    )


def _corpus_stats(dl: DataFrame) -> DataFrame:
    """1-row (n, avgdl) corpus-scalar relation. r14 (guide §2.6 / §5):
    cross-joined broadcast into the scoring plan instead of collect()ed
    — the blocking corpus-scalar driver round trip (a full tf+dl job
    whose only output was two numbers) rides inside the first real job
    instead of preceding it."""
    return dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )


@register("bm25_retrieve", oracle=_BM25_ORACLE)
def bm25_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # cut: multi-consumer — dl, dfs and the query postings
    tf = cut(_tf_rows(docs))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    tfq = tf.where(F.col("word").isin(*_BM25_WORDS))
    dfs = tfq.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    postings = (
        tfq.join(F.broadcast(dfs), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(_corpus_stats(dl)))
    )
    return _score_topk_cols(postings)


# ---------------------------------------------------------------------------
# Persisted serving index
# ---------------------------------------------------------------------------


def _bucket_py(word: str) -> int:
    """Python twin of functions.hashing.md5_int31 % buckets."""
    return int(hashlib.md5(word.encode()).hexdigest()[:7], 16) % _N_WORD_BUCKETS


def _postings_rows(docs: DataFrame) -> DataFrame:
    from ..functions.hashing import md5_int31

    tf = cut(_tf_rows(docs))  # cut: multi-consumer — dl and the join
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    return tf.join(dl, "doc_id").select(
        (md5_int31(F.col("word")) % _N_WORD_BUCKETS).alias("wb"),
        "word",
        "doc_id",
        "tf",
        "dl",
    )


def _write_manifest(
    index_dir: str, n_docs: int, sum_dl: int, max_applied: int | None = None
) -> None:
    """Atomic manifest write. ``max_applied`` (streaming maintenance)
    rides in the SAME write as the counters, so recording a batch and
    applying its counter bump are one indivisible effect — a crash can
    never leave counters bumped but the batch unrecorded (or vice
    versa)."""
    man: dict = {"n_docs": n_docs, "sum_dl": sum_dl, "buckets": _N_WORD_BUCKETS}
    if max_applied is not None:
        man["max_applied"] = max_applied
    write_json(os.path.join(index_dir, "manifest.json"), man)


def _read_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        man = json.load(f)
    if man["buckets"] != _N_WORD_BUCKETS:
        raise ValueError(
            f"text index built with {man['buckets']} word buckets, "
            f"engine expects {_N_WORD_BUCKETS} — rebuild the index"
        )
    if "applied_batch_ids" in man:
        man["max_applied"] = applied_max(man)
    return man


def build_text_index(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """One corpus pass -> bucket-partitioned postings + scalar manifest.

    The write shuffle hashes (wb, word) — not wb alone — so build
    parallelism scales with executors instead of capping at
    ``_N_WORD_BUCKETS`` tasks (r8 verdict #2); ``compact_index('text')``
    re-tidies the extra per-bucket files."""
    from ..sinks import spread_repartition

    rows = cut(_postings_rows(docs), eager=True)  # cut: multi-consumer — write + stats
    spread_repartition(rows, "wb", "word").write.mode("overwrite").partitionBy(
        "wb"
    ).parquet(os.path.join(index_dir, "postings"))
    st = rows.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    os.makedirs(index_dir, exist_ok=True)
    _write_manifest(index_dir, int(st["n"]), int(st["s"]))


def text_index_add(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    stage_dir: str | None = None,
) -> tuple[int, int]:
    """Append postings for NEW docs and bump the manifest counters —
    cost is O(batch); every stored posting stays valid because its state
    (tf, dl) depends only on its own document.

    ``stage_dir`` (streaming maintenance): write the batch's postings
    THERE instead of appending, and do NOT touch the manifest — the
    caller promotes the staged files via batch-stamped atomic renames
    and commits the counter bump + batch record in one manifest
    os.replace. Returns the (doc-count, doc-length) increments."""
    from ..sinks import spread_repartition

    recover_swaps(index_dir)  # a compaction a crash left open
    if stage_dir is None:
        _read_manifest(index_dir)  # knob check before any write
    rows = cut(_postings_rows(new_docs), eager=True)  # cut: multi-consumer — write + stats
    writer = spread_repartition(rows, "wb", "word").write.partitionBy("wb")
    if stage_dir is None:
        writer.mode("append").parquet(os.path.join(index_dir, "postings"))
    else:
        writer.mode("overwrite").parquet(stage_dir)
    st = rows.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    dn, ds = int(st["n"]), int(st["s"] or 0)
    if stage_dir is None:
        man = _read_manifest(index_dir)
        _write_manifest(
            index_dir,
            man["n_docs"] + dn,
            man["sum_dl"] + ds,
            max_applied=man.get("max_applied"),
        )
    return dn, ds


def text_index_query(
    spark: SparkSession,
    index_dir: str,
    words: tuple[str, ...] = _BM25_WORDS,
    k: int = _BM25_K,
) -> DataFrame:
    """BM25 top-k from the index alone: reads ONLY the query words'
    bucket partitions (plan-pinned PartitionFilters), computes df from
    the pruned postings, and scores with the same shared expression as
    the batch query — byte-identical results (pytest). Opens with a
    forward-only ``recover_swaps`` like the vector index queries."""
    recover_swaps(index_dir, forward_only=True)
    man = _read_manifest(index_dir)
    buckets = sorted({_bucket_py(w) for w in words})
    post = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .where(F.col("wb").isin(buckets))
        .where(F.col("word").isin(*words))
    )
    dfs = post.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    postings = post.join(F.broadcast(dfs), "word")
    avgdl = man["sum_dl"] * 1.0 / man["n_docs"]
    return _score_topk(postings, man["n_docs"], avgdl, k=k)


# ---------------------------------------------------------------------------
# bm25_rm3_expand — pseudo-relevance feedback (RM3, Lavrenko-Croft
# relevance models as deployed in Indri/Anserini): retrieve once, mine
# expansion terms from the top documents' language models, re-retrieve
# with the expanded weighted query. The deterministic re-expression:
#
#   rm_w(w)  = Σ_{d in top-F} (tf(w,d) / dl(d)) * score_1(d)
#   expanded = original words at weight α
#            + top-E rm words (excluding originals) at (1-α) * rm_w/max
#   score_2(d) = Σ_w wgt(w) * bm25_term(w, d)     (decimal-summed)
#
# Every stage is rank-stable cross-engine: score_1 is the 6-dp-rounded
# BM25 of ``bm25_retrieve``, rm weights are decimal sums of exact
# per-doc rationals times that rounded score, and all ties break on
# (word) / (doc_id).
#
# Scale shape: pass 1 is bm25_retrieve's plan; the feedback relation is
# F<=10 docs joined word-keyed against their own tf rows (tiny); pass 2
# scores |q|+E <= 8 words through the same broadcast-df posting join as
# pass 1. Nothing corpus-sized ever collects — the <=8-row expanded
# query vocabulary is the only driver data (the corpus scalars ride in
# the plan as a broadcast 1-row relation since r14).
# ---------------------------------------------------------------------------

_RM3_ALPHA = 0.6
_RM3_E = 5  # expansion terms
_RM3_F = 10  # feedback depth = the pass-1 top-k

_RM3_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words
  WHERE word NOT IN ({_STOP_SQL}) AND word <> ''
  GROUP BY doc_id, word
), dl AS (
  SELECT doc_id, cast(sum(tf) as bigint) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
), dfs1 AS (
  SELECT word, count(*) AS df FROM tf
  WHERE word IN ({_words_sql}) GROUP BY word
), p1scores AS (
  SELECT tf.doc_id, {sql_dsum(_TERM_SQL, 'score')}
  FROM tf JOIN dfs1 USING (word) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id
), pass1 AS (
  SELECT doc_id, score FROM (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rk
    FROM p1scores
  ) WHERE rk <= 10
), rm AS (
  SELECT t.word,
         {sql_dsum('(cast(t.tf as double) / cast(d.dl as double)) * p.score', 'rm_w')}
  FROM pass1 p
  JOIN tf t ON t.doc_id = p.doc_id
  JOIN dl d ON d.doc_id = p.doc_id
  WHERE t.word NOT IN ({_words_sql})
  GROUP BY t.word
), exp_terms AS (
  SELECT word, rm_w, row_number() OVER (ORDER BY rm_w DESC, word) AS erk
  FROM rm
), chosen AS (
  SELECT word, rm_w FROM exp_terms WHERE erk <= {_RM3_E}
), qvocab AS (
  SELECT word, {_RM3_ALPHA} AS wgt FROM (VALUES ({_words_sql.replace("', '", "'), ('")})) AS q(word)
  UNION ALL
  SELECT word,
         {1.0 - _RM3_ALPHA} * rm_w / (SELECT max(rm_w) FROM chosen) AS wgt
  FROM chosen
), dfs2 AS (
  SELECT word, count(*) AS df FROM tf
  WHERE word IN (SELECT word FROM qvocab) GROUP BY word
), scores AS (
  SELECT tf.doc_id, {sql_dsum(f'({_TERM_SQL}) * qv.wgt', 'score')}
  FROM tf
  JOIN qvocab qv USING (word)
  JOIN dfs2 USING (word)
  JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score, rk FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM scores
) WHERE rk <= {_BM25_K}
"""


@register("bm25_rm3_expand", oracle=_RM3_ORACLE)
def bm25_rm3_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + RM3 query expansion, end to end in one plan."""
    docs = table(spark, sf_dir, "documents")
    tf = cut(_tf_rows(docs))  # cut: multi-consumer — dl and both passes
    # cut: multi-consumer — corpus scalars, pass-1 postings, rm weights and
    # pass-2 postings; without it the doc-grain aggregation re-runs per
    # consumer (measured 7.6s -> ~2s at sf0.1)
    dl = cut(tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl")))
    # corpus scalars as a broadcast 1-row relation (r14, guide §2.6):
    # the old st.collect() was a full blocking tf+dl job run BEFORE
    # pass 1 could even be submitted; folding (n, avgdl) into the
    # scoring plans drops one of the two sequential driver round trips
    # (the expansion-term collect below is a true data dependency and
    # stays). Values and scores are bit-identical — same doubles,
    # whether as literal or column.
    st = _corpus_stats(dl)

    # pass 1: the bm25_retrieve ranking (same helpers, same rounding)
    tfq = tf.where(F.col("word").isin(*_BM25_WORDS))
    dfs1 = tfq.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    pass1 = _score_topk_cols(
        tfq.join(F.broadcast(dfs1), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st)),
        k=_RM3_F,
    ).select("doc_id", "score")

    # relevance-model weights over the feedback docs' vocabulary
    rm = (
        tf.join(F.broadcast(pass1), "doc_id")
        .join(dl, "doc_id")
        .where(~F.col("word").isin(*_BM25_WORDS))
        .groupBy("word")
        .agg(
            dsum(
                (F.col("tf").cast("double") / F.col("dl").cast("double"))
                * F.col("score")
            ).alias("rm_w")
        )
    )
    chosen = (
        rm.orderBy(F.desc("rm_w"), F.asc("word")).limit(_RM3_E)
    )  # <= E rows to the driver below — bounded metadata
    rows = chosen.collect()
    max_w = max(r["rm_w"] for r in rows) if rows else 1.0
    vocab = [(w, _RM3_ALPHA) for w in _BM25_WORDS] + [
        # raw wgt (rule 33): rm_w/max_w are bit-identical cross-engine
        # and this Python float op order matches the oracle's SQL text
        # exactly — while a round here would be PYTHON banker's rounding
        # vs DuckDB float rounding, two more divergent implementations
        ((r["word"], (1.0 - _RM3_ALPHA) * r["rm_w"] / max_w))
        for r in rows
    ]
    qvocab = spark.createDataFrame(vocab, "word string, wgt double")

    # pass 2: weighted BM25 over the expanded vocabulary
    tf2 = tf.join(F.broadcast(qvocab), "word")
    dfs2 = tf2.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    postings = (
        tf2.join(F.broadcast(dfs2), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
    )
    scored = (
        _stage_idf(postings)
        .groupBy("doc_id")
        .agg(dsum(F.expr(_TERM_STAGED) * F.col("wgt")).alias("score"))
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(_BM25_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    # raw score out (rule 33 — see _score_topk)
    return topk.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "score", "rk"
    )
