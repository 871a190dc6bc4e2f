"""Second curation suite: training-shard packing and corpus audits —
the steps between a cleaned corpus and the tensors a trainer reads.

- ``pack_sequences`` — deterministic token-budget sequence packing:
  documents are laid out in doc_id order within each source shard, and
  each document joins the training sequence (bin) in which its first
  token falls (``floor(tokens_before / budget)``). One window over the
  pre-computed per-doc token counts — no iterative bin-packing, no
  driver loop. A document that straddles a boundary belongs to the bin
  it starts in (its tail is the bin's overflow — the usual
  concat-then-chunk training layout, where chunk boundaries need not
  align with document boundaries).
- ``corpus_vocab_stats`` — per-source vocabulary audit: token volume,
  distinct types, type/token ratio, hapax fraction. The classic
  quick-look for corpus diversity and boilerplate collapse.
- ``emb_quality_audit`` — embedding-table QA: per label, vector counts,
  dimension consistency, NaN and zero-norm counts, and decimal-stable
  norm statistics. The gate you run before trusting 100 TB of vectors.

Scale notes: packing windows are partitioned by the shard key (source
here; a hash bucket at 100 TB) so no global sort exists; vocab stats are
two partial-agg-friendly groupBys over an exploded token stream; the
embedding audit is one map-side pass + one small groupBy. Nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..functions.hashing import md5_long, sql_md5_long
from ..functions.stable import dsum, sql_dec2double, sql_vardec
from ..functions.vectors import dot
from ..registry import register

# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''))
           AS n_tokens
  FROM documents
), placed AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS tokens_before
  FROM toks
)
SELECT source,
       cast(floor(tokens_before / {_PACK_BUDGET}) as bigint) AS seq_id,
       count(*) AS n_docs,
       cast(sum(n_tokens) as bigint) AS seq_tokens,
       round(sum(n_tokens) * 1.0 / {_PACK_BUDGET}, 6) AS fill_ratio
FROM placed
GROUP BY 1, 2
"""


@register("pack_sequences", oracle=_PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')")
    ).cast("bigint")
    toks = docs.select("source", "doc_id", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    seq_id = F.floor(F.col("tokens_before") / _PACK_BUDGET).cast("bigint")
    return (
        placed.groupBy("source", seq_id.alias("seq_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.round(F.sum("n_tokens") * F.lit(1.0) / _PACK_BUDGET, 6).alias(
                "fill_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# corpus_vocab_stats
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
), wc AS (
  SELECT source, word, count(*) AS c FROM tok WHERE word <> '' GROUP BY 1, 2
)
SELECT source,
       cast(sum(c) as bigint) AS n_tokens,
       count(*) AS n_types,
       round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio,
       cast(sum(case when c = 1 then 1 else 0 end) as bigint) AS hapax_types,
       round(sum(case when c = 1 then 1 else 0 end) * 1.0 / count(*), 6)
         AS hapax_fraction
FROM wc
GROUP BY source
"""


@register("corpus_vocab_stats", oracle=_VOCAB_ORACLE)
def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode_outer(
            F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')")
        ).alias("word"),
    ).where(F.col("word").isNotNull())
    wc = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return wc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
        hapax.alias("hapax_types"),
        F.round(hapax * F.lit(1.0) / F.count(F.lit(1)), 6).alias("hapax_fraction"),
    )


# ---------------------------------------------------------------------------
# emb_quality_audit
# ---------------------------------------------------------------------------

# Norms fold the squared terms in list order on both engines
# (F.aggregate over zip_with ≡ DuckDB list_dot_product — the same parity
# dedup_embedding relies on), and sqrt is IEEE-correctly-rounded, so the
# per-vector norm is bit-identical; cross-vector statistics then go
# through the decimal-stable sum.
_EMB_AUDIT_ORACLE = f"""
WITH v AS (
  SELECT label, vec_id,
         cast(embedding as double[]) AS e,
         len(embedding) AS dim,
         len(list_filter(cast(embedding as double[]), x -> isnan(x))) AS n_nan
  FROM embeddings
), n AS (
  SELECT label, vec_id, dim, n_nan,
         sqrt(list_dot_product(e, e)) AS nrm
  FROM v
)
SELECT label,
       count(*) AS n_vecs,
       cast(min(dim) as int) AS min_dim,
       cast(max(dim) as int) AS max_dim,
       cast(sum(case when n_nan > 0 then 1 else 0 end) as bigint) AS n_nan_vecs,
       cast(sum(case when nrm = 0.0 then 1 else 0 end) as bigint) AS n_zero_vecs,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round({sql_dec2double(f"sum({sql_vardec('nrm')})")} / count(*), 6) AS avg_norm
FROM n
GROUP BY label
"""


@register("emb_quality_audit", oracle=_EMB_AUDIT_ORACLE)
def emb_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
        F.size("embedding").alias("dim"),
    )
    n_nan = F.size(F.expr("filter(e, x -> isnan(x))"))
    nrm = F.sqrt(dot("e", "e"))
    per_vec = emb.select("label", "dim", n_nan.alias("n_nan"), nrm.alias("nrm"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.sum(F.when(F.col("n_nan") > 0, 1).otherwise(0)).alias("n_nan_vecs"),
        F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0)).alias("n_zero_vecs"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(dsum(F.col("nrm")) / F.count(F.lit(1)), 6).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# tokenizer_fertility — chars-per-token / tokens-per-doc per language, the
# audit run before committing to a tokenizer for a multilingual corpus
# (languages whose fertility is far off the corpus mean get over- or
# under-weighted in a fixed token budget).
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = """
WITH toks AS (
  SELECT lang, doc_id,
         len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''))
           AS n_tokens,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       cast(sum(n_tokens) as bigint) AS n_tokens,
       cast(sum(n_chars) as bigint) AS n_chars,
       round(sum(n_chars) * 1.0 / sum(n_tokens), 6) AS chars_per_token,
       round(sum(n_tokens) * 1.0 / count(*), 6) AS tokens_per_doc
FROM toks
GROUP BY lang
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.size(F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')"))
        .cast("bigint")
        .alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.round(F.sum("n_chars") * F.lit(1.0) / F.sum("n_tokens"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.sum("n_tokens") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "tokens_per_doc"
        ),
    )


# ---------------------------------------------------------------------------
# text_char_diversity — gibberish/boilerplate signal WITHOUT logs: Shannon
# entropy needs log2 (not correctly rounded on either engine → parity
# hazard, the same reason text_char_trigram_score is log-free), so the
# collision index Σ(c_i/N)² — the Simpson/Rényi-2 diversity — serves the
# same screening purpose in exact integer arithmetic: high collision =
# few characters dominate (aaaa..., base64 padding runs); distinct-char
# count and top-char share complete the picture. Map-side explode +
# two small groupBys; the per-doc char distribution never leaves the
# executor unaggregated.
# ---------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS c
  FROM documents WHERE length(text) > 0
), cc AS (
  SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id,
         cast(sum(n) as bigint) AS n_chars,
         count(*) AS distinct_chars,
         round(sum(n * n) * 1.0 / (sum(n) * sum(n)), 6) AS collision_index,
         round(max(n) * 1.0 / sum(n), 6) AS top_char_share
  FROM cc GROUP BY doc_id
)
SELECT doc_id, n_chars, distinct_chars, collision_index, top_char_share,
       collision_index <= 0.25 AND distinct_chars >= 8 AS keep
FROM per_doc
"""


@register("text_char_diversity", oracle=_DIVERSITY_ORACLE)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    ch = docs.select(
        "doc_id",
        F.explode_outer(F.split(F.lower("text"), "")).alias("c"),
    ).where(F.col("c").isNotNull() & (F.col("c") != ""))
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    per_doc = cc.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.round(
            F.sum(F.col("n") * F.col("n")) * F.lit(1.0) / (F.sum("n") * F.sum("n")),
            6,
        ).alias("collision_index"),
        F.round(F.max("n") * F.lit(1.0) / F.sum("n"), 6).alias("top_char_share"),
    )
    return per_doc.select(
        "*",
        (
            (F.col("collision_index") <= 0.25) & (F.col("distinct_chars") >= 8)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# cap_per_source — per-domain document cap, the crawl-curation step that
# stops a single prolific domain from dominating the training mix (the
# complement of domain_mix_plan's rate-based downsampling: a hard count
# cap with an unbiased, deterministic pick of WHICH documents survive).
# Selection order is md5(doc_id) — a uniform pseudo-random permutation
# that is identical on every engine/run and (near-)append-stable: new
# docs land at random rank positions instead of displacing the whole
# selection the way doc_id order would.
#
# Scale: one window keyed by source. At 100 TB a hot domain makes the
# per-source sort the bottleneck; the exact-N scale path is two-phase —
# per-source counts (broadcast-sized) give an approximate md5 threshold
# keeping ~1.2x the cap, and only those survivors are exactly ranked, so
# the sort touches O(cap) rows per source, not O(domain). The semantics
# here are that plan's final output.
# ---------------------------------------------------------------------------

_CAP_N = 20  # max documents kept per source

_CAP_ORACLE = f"""
SELECT source, doc_id, cap_rank, cap_rank <= {_CAP_N} AS kept
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {sql_md5_long('cast(doc_id as varchar)')}, doc_id
         ) AS cap_rank
  FROM documents
)
"""


@register("cap_per_source", oracle=_CAP_ORACLE)
def cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_long(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).alias("cap_rank"),
    ).withColumn("kept", F.col("cap_rank") <= _CAP_N)


# ---------------------------------------------------------------------------
# emb_outlier_scores — embedding-space label audit: cosine of every vector
# to its OWN label's centroid, surfacing the K most out-of-place vectors
# per label (the standard mislabeled-sample / contamination sweep run over
# an embedding table before training on it). Complements emb_quality_audit
# (norm/NaN hygiene) — this one is geometric.
#
# Scale shape: posexplode → one (label, pos)-keyed partial aggregate for
# the centroids (shuffle cardinality |labels|×dim regardless of rows, the
# emb_label_centroids device), centroids broadcast back into a map-side
# join, one (vec_id)-keyed aggregate for the two dot products, then
# bottom-K per label through a TWO-PHASE ranking: a per-(label, salt)
# window keeps K candidates per salt, and the final per-label window ranks
# only |salts|×K rows — a single per-label window would funnel an entire
# label's vectors (n/|labels| rows at 100 TB) through one partition.
# ---------------------------------------------------------------------------

_OUT_K = 5
_OUT_SALTS = 16


def _emb_outlier_oracle() -> str:
    from ..functions.stable import sql_davg, sql_dsum

    return f"""
WITH v AS (
  SELECT vec_id, label, unnest(cast(embedding as double[])) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos, {sql_davg('val', 'centroid')} FROM v GROUP BY label, pos
), c2 AS (
  SELECT label, {sql_dsum('centroid * centroid', 'c2')} FROM cent GROUP BY label
), dots AS (
  SELECT v.vec_id, v.label,
         {sql_dsum('v.val * cent.centroid', 'dot')},
         {sql_dsum('v.val * v.val', 'v2')}
  FROM v JOIN cent ON v.label = cent.label AND v.pos = cent.pos
  GROUP BY v.vec_id, v.label
), scored AS (
  SELECT d.label, d.vec_id,
         round(d.dot / (sqrt(d.v2) * sqrt(cc.c2)), 6) AS cosine
  FROM dots d JOIN c2 cc ON d.label = cc.label
)
SELECT label, vec_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine, vec_id) AS rk
  FROM scored
) WHERE rk <= {_OUT_K}
"""


@register("emb_outlier_scores", oracle=_emb_outlier_oracle())
def emb_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stable import davg

    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    # cut: multi-consumer — the c2 aggregate and the broadcast scoring
    # join would each re-run the centroid pass over the exploded vectors
    cent = cut(v.groupBy("label", "pos").agg(davg(F.col("val")).alias("centroid")))
    c2 = cent.groupBy("label").agg(
        dsum(F.col("centroid") * F.col("centroid")).alias("c2")
    )
    dots = (
        v.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            dsum(F.col("val") * F.col("centroid")).alias("dot"),
            dsum(F.col("val") * F.col("val")).alias("v2"),
        )
    )
    scored = dots.join(F.broadcast(c2), "label").select(
        "label",
        "vec_id",
        F.round(
            F.col("dot") / (F.sqrt(F.col("v2")) * F.sqrt(F.col("c2"))), 6
        ).alias("cosine"),
    )
    # two-phase bottom-K: per-(label, salt) candidates, then the final
    # per-label rank over |salts|×K rows only
    w1 = Window.partitionBy("label", F.pmod(F.col("vec_id"), F.lit(_OUT_SALTS))).orderBy(
        F.asc("cosine"), F.asc("vec_id")
    )
    cand = scored.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= _OUT_K
    )
    w2 = Window.partitionBy("label").orderBy(F.asc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _OUT_K)
        .select("label", "vec_id", "cosine", "rk")
    )
