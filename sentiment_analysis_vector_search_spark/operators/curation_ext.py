"""Corpus-curation extensions: repetition-quality metrics + benchmark
decontamination — LLM-pipeline extensions a 100 TB pretraining pipeline
runs between ingest and shard-writing.

- ``text_gopher_quality`` — Gopher-style repetition/shape metrics
  (duplicate-line fraction, top-bigram fraction, mean word length,
  symbol-to-word ratio) with a keep flag. Entirely map-only: the
  top-bigram mode is computed per row by sorting the bigram array and
  scanning adjacent runs — ZERO shuffle at any scale, where the textbook
  explode→groupBy(doc, gram) formulation shuffles every token. The DuckDB
  oracle runs the explode formulation, proving the two agree.
- ``decontaminate_ngrams`` — benchmark decontamination: flag corpus
  documents sharing any word-8-gram with a held-out eval set (the first
  ``_EVAL_DOCS`` documents, mirroring similarity's queries-from-data
  convention). Scale shape: the eval gram set is benchmark-sized → always
  broadcast; the corpus is never shuffled — only the (rare) matching grams
  enter the groupBy, and the per-doc counts broadcast back onto the
  corpus spine.

Reference tie-in: extends the reference's quality gating
(extract_text_fun.py's length/duplicate-sentence filters) to the
corpus-curation gates a pretraining pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, table
from ..functions.hashing import md5_int31, sql_md5_int31
from ..functions.tfidf import BPE_RE as _BPE_RE
from ..registry import register
from .dedup import (
    _SQL_SHINGLES_CTE,
    _SQL_SIGS_CTE,
    _sql_band_selects,
    _sql_verify_cte,
    band_candidates,
    candidate_shingles,
    jaccard,
    minhash_bands,
    minhash_sigs,
    shared_counts,
    shingle_sets,
)

# ---------------------------------------------------------------------------
# text_gopher_quality
# ---------------------------------------------------------------------------

_MWL_MIN = 3.0  # Gopher: mean word length in [3, 10]
_MWL_MAX = 10.0
_DUP_LINE_MAX = 0.3  # Gopher: duplicate line fraction <= 0.30
_TOP_2GRAM_MAX = 0.2  # Gopher: top-2-gram fraction <= 0.20
_SYMBOL_RATIO_MAX = 0.1  # Gopher: symbol (#, ...) to word ratio <= 0.10

_GOPHER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, t[cast(p as int)] || ' ' || t[cast(p as int) + 1] AS g
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS p FROM toks)
), bgc AS (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
), bgtop AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS n_bg FROM bgc GROUP BY 1
), feat AS (
  SELECT k.doc_id,
         len(k.t) AS n_words,
         len(string_split(k.text, chr(10))) AS n_lines,
         len(list_distinct(string_split(k.text, chr(10)))) AS n_distinct_lines,
         CASE WHEN len(k.t) > 0
              THEN list_sum(list_transform(k.t, w -> length(w))) * 1.0 / len(k.t)
              ELSE 0.0 END AS mwl,
         CASE WHEN coalesce(b.n_bg, 0) > 0 THEN b.mx * 1.0 / b.n_bg ELSE 0.0 END AS top2,
         CASE WHEN len(k.t) > 0
              THEN ((length(k.text) - length(replace(k.text, '#', '')))
                    + (length(k.text) - length(replace(k.text, '...', ''))) / 3)
                   * 1.0 / len(k.t)
              ELSE 0.0 END AS symr
  FROM toks k LEFT JOIN bgtop b ON k.doc_id = b.doc_id
)
SELECT doc_id,
       cast(n_words as bigint) AS n_words,
       round(CASE WHEN n_lines > 0
                  THEN 1.0 - n_distinct_lines * 1.0 / n_lines ELSE 0.0 END, 6)
         AS frac_dup_lines,
       round(top2, 6) AS frac_top_2gram,
       round(mwl, 6) AS mean_word_len,
       round(symr, 6) AS symbol_word_ratio,
       (mwl >= {_MWL_MIN} AND mwl <= {_MWL_MAX}
        AND (CASE WHEN n_lines > 0
                  THEN 1.0 - n_distinct_lines * 1.0 / n_lines ELSE 0.0 END)
            <= {_DUP_LINE_MAX}
        AND top2 <= {_TOP_2GRAM_MAX}
        AND symr <= {_SYMBOL_RATIO_MAX}) AS keep
FROM feat
"""


@register("text_gopher_quality", oracle=_GOPHER_ORACLE)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = r"filter(split(lower(text), '\\s+'), w -> w <> '')"
    feat = docs.select(
        "doc_id",
        "text",
        F.expr(toks).alias("t"),
        F.split("text", "\n").alias("lines"),
    ).select(
        "doc_id",
        "text",
        F.size("t").cast("bigint").alias("n_words"),
        F.size("lines").alias("n_lines"),
        F.size(F.array_distinct("lines")).alias("n_distinct_lines"),
        F.when(
            F.size("t") > 0,
            F.expr("aggregate(t, 0L, (acc, w) -> acc + length(w))")
            * F.lit(1.0)
            / F.size("t"),
        )
        .otherwise(F.lit(0.0))
        .alias("mwl"),
        # Per-row bigram mode, no shuffle: sort the bigram array, then one
        # adjacent-run scan finds the max multiplicity (the mode count of a
        # sorted multiset is its longest equal run).
        F.expr(
            "CASE WHEN size(t) >= 2 THEN "
            "array_sort(transform(sequence(1, size(t) - 1),"
            " i -> concat(t[i - 1], ' ', t[i]))) "
            "ELSE array() END"
        ).alias("sbg"),
    )
    maxrun = (
        "CASE WHEN size(sbg) = 0 THEN 0L WHEN size(sbg) = 1 THEN 1L ELSE "
        "aggregate(sequence(2, size(sbg)), named_struct('run', 1L, 'best', 1L), "
        "(acc, i) -> IF(element_at(sbg, i) = element_at(sbg, i - 1), "
        "named_struct('run', acc.run + 1L, 'best', greatest(acc.best, acc.run + 1L)), "
        "named_struct('run', 1L, 'best', acc.best)), "
        "a -> a.best) END"
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    feat2 = feat.select(
        "doc_id",
        "n_words",
        "n_lines",
        "n_distinct_lines",
        "mwl",
        F.when(
            F.size("sbg") > 0,
            F.expr(maxrun) * F.lit(1.0) / F.size("sbg"),
        )
        .otherwise(F.lit(0.0))
        .alias("top2"),
        F.when(F.col("n_words") > 0, (n_hash + n_ellipsis) * F.lit(1.0) / F.col("n_words"))
        .otherwise(F.lit(0.0))
        .alias("symr"),
    )
    dup_lines = F.when(
        F.col("n_lines") > 0,
        F.lit(1.0) - F.col("n_distinct_lines") * F.lit(1.0) / F.col("n_lines"),
    ).otherwise(F.lit(0.0))
    return feat2.select(
        "doc_id",
        "n_words",
        F.round(dup_lines, 6).alias("frac_dup_lines"),
        F.round("top2", 6).alias("frac_top_2gram"),
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("symr", 6).alias("symbol_word_ratio"),
        (
            (F.col("mwl") >= _MWL_MIN)
            & (F.col("mwl") <= _MWL_MAX)
            & (dup_lines <= _DUP_LINE_MAX)
            & (F.col("top2") <= _TOP_2GRAM_MAX)
            & (F.col("symr") <= _SYMBOL_RATIO_MAX)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# decontaminate_ngrams
# ---------------------------------------------------------------------------

_DECON_N = 8  # word-8-gram overlap, the common decontamination unit
_EVAL_DOCS = 20  # held-out "benchmark": the first doc_ids (data-derived)

_SQL_8GRAM = " || ' ' || ".join(
    f"t[cast(p as int) + {i}]" for i in range(_DECON_N)
)

_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, {_SQL_8GRAM} AS g
  FROM (SELECT doc_id, t,
               unnest(range(1, greatest(len(t) - {_DECON_N - 2}, 1))) AS p
        FROM toks)
), eval_g AS (
  SELECT DISTINCT g FROM grams WHERE doc_id < {_EVAL_DOCS}
), hits AS (
  SELECT c.doc_id, count(*) AS n
  FROM grams c JOIN eval_g e USING (g)
  WHERE c.doc_id >= {_EVAL_DOCS}
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       cast(coalesce(h.n, 0) as bigint) AS n_overlap,
       coalesce(h.n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= {_EVAL_DOCS}) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register("decontaminate_ngrams", oracle=_DECON_ORACLE)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~n_words array slices + concats per doc is the expensive scan-stage
    # projection: fan the scan out so gram generation isn't serialized on a
    # single test-layout split (no-op on real multi-split layouts).
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    grams_expr = (
        f"CASE WHEN size(t) >= {_DECON_N} THEN "
        f"array_distinct(transform(sequence(1, size(t) - {_DECON_N - 1}), "
        f"i -> concat_ws(' ', slice(t, i, {_DECON_N})))) "
        "ELSE array() END"
    )
    with_grams = docs.select(
        "doc_id", F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')").alias("t")
    ).select("doc_id", F.expr(grams_expr).alias("grams"))

    # explode_OUTER + null-filter, not plain explode: for a non-outer
    # Generate, InferFiltersFromGenerate pushes a `size(grams) > 0` filter
    # below the projection, re-evaluating the whole gram expression a second
    # time per row (measured 15x slowdown). Outer generate skips the inferred
    # filter; the post-generate null check is on the output attribute only.
    def gram_rows(df: DataFrame) -> DataFrame:
        return df.select("doc_id", F.explode_outer("grams").alias("g")).where(
            F.col("g").isNotNull()
        )

    eval_g = (
        gram_rows(with_grams.where(F.col("doc_id") < _EVAL_DOCS))
        .select("g")
        .distinct()
    )
    corpus = with_grams.where(F.col("doc_id") >= _EVAL_DOCS)
    hits = (
        gram_rows(corpus)
        .join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        corpus.select("doc_id")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# domain_mix_plan — per-source sampling rates toward a target domain mix.
# The pretraining-mix step: given target weights per source (here a
# deterministic md5-derived weight standing in for a tuned mix config;
# swap in real weights without touching the math), compute each source's
# current share and the largest uniform scale-up of the target mix that
# requires NO upsampling (every sampling rate <= 1) — the standard
# "down-sample overrepresented domains, never repeat data" policy.
# Scale shape: ONE map-side-combinable groupBy to per-source counts
# (|sources| rows), then windows over that tiny aggregate — the corpus
# itself is touched exactly once regardless of size.
# ---------------------------------------------------------------------------

_MIX_ORACLE = f"""
WITH agg AS (
  SELECT source, count(*) AS n_docs, sum(n_chars) AS n_chars
  FROM documents GROUP BY source
), weighted AS (
  SELECT *, 1 + ({sql_md5_int31('source')}) % 10 AS w FROM agg
), shares AS (
  SELECT source, n_docs, n_chars,
         n_docs * 1.0 / sum(n_docs) OVER () AS current_share,
         w * 1.0 / sum(w) OVER () AS target_share
  FROM weighted
), scaled AS (
  SELECT *, min(current_share / target_share) OVER () AS c FROM shares
)
SELECT source,
       cast(n_docs as bigint) AS n_docs,
       cast(n_chars as bigint) AS n_chars,
       round(current_share, 6) AS current_share,
       round(target_share, 6) AS target_share,
       round(least(1.0, c * target_share / current_share), 6) AS sampling_rate,
       cast(floor(n_docs * round(least(1.0, c * target_share / current_share), 6))
            as bigint) AS expected_docs
FROM scaled
"""


@register("domain_mix_plan", oracle=_MIX_ORACLE)
def domain_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w_all = Window.partitionBy()  # over the |sources|-row aggregate only
    weighted = agg.withColumn(
        "w", F.lit(1) + md5_int31(F.col("source")) % 10
    )
    shares = weighted.select(
        "source",
        "n_docs",
        "n_chars",
        (F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w_all)).alias(
            "current_share"
        ),
        (F.col("w") * F.lit(1.0) / F.sum("w").over(w_all)).alias("target_share"),
    )
    scaled = shares.withColumn(
        "c", F.min(F.col("current_share") / F.col("target_share")).over(w_all)
    )
    rate = F.round(
        F.least(
            F.lit(1.0), F.col("c") * F.col("target_share") / F.col("current_share")
        ),
        6,
    )
    return scaled.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round("current_share", 6).alias("current_share"),
        F.round("target_share", 6).alias("target_share"),
        rate.alias("sampling_rate"),
        F.floor(F.col("n_docs") * rate).cast("bigint").alias("expected_docs"),
    )


# ---------------------------------------------------------------------------
# corpus_data_card — the per-source "dataset card" a training-data release
# ships: volume (docs, BPE-ish tokens), language mix (dominant language +
# share, Shannon entropy of the lang distribution), and length quantiles.
# Complements docs_source_profile (dup-rate/quality) and domain_mix_plan
# (sampling weights) — this is the descriptive sheet, those are the gates.
#
# Scale shape: two fact scans, both fully partial-aggregable — one
# groupBy(source) for counts/tokens/quantiles, one groupBy(source, lang)
# for the mix (shuffle cardinality |sources|×|langs|); the entropy/top
# computations then run on that tiny aggregate (per-source window over
# |langs| rows). At 100 TB swap `percentile` for approx_percentile —
# sketch-based, same query shape (q_value_percentiles note).
#
# Parity: the Shannon entropy term -(c/n) ln(c/n) decomposes over the
# integer counts as (c/n) * (stable_ln(n) - stable_ln(c)) — engine-
# native ln in a decimal-summed, 6-dp-rounded hashed column is a
# host-libm hazard (the same one sample_weighted avoids).
# ---------------------------------------------------------------------------

def _ent_term() -> str:
    from ..functions.stable import sql_stable_ln

    return (
        "(c * 1.0 / n_docs)"
        f" * ({sql_stable_ln('n_docs')} - {sql_stable_ln('c')})"
    )


_ENT_TERM = _ent_term()


def _data_card_oracle() -> str:
    from ..functions.stable import sql_dsum

    return f"""
WITH lc AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang
), n AS (
  SELECT source, count(*) AS n_docs,
         cast(sum(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) as bigint) AS n_bpe_tokens,
         round(cast(quantile_cont(n_chars, 0.5) as double), 6) AS p50_chars,
         round(cast(quantile_cont(n_chars, 0.9) as double), 6) AS p90_chars
  FROM documents GROUP BY source
), ent AS (
  SELECT lc.source,
         {sql_dsum(_ENT_TERM, 'raw_ent')}
  FROM lc JOIN n USING (source) GROUP BY lc.source
), top AS (
  SELECT source, lang AS top_lang, c FROM (
    SELECT lc.*, row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rk
    FROM lc
  ) WHERE rk = 1
)
SELECT n.source, n.n_docs, n.n_bpe_tokens, t.top_lang,
       t.c * 1.0 / n.n_docs AS top_lang_share,
       e.raw_ent AS lang_entropy,
       n.p50_chars, n.p90_chars
FROM n JOIN top t USING (source) JOIN ent e ON e.source = n.source
"""


@register("corpus_data_card", oracle=_data_card_oracle())
def corpus_data_card(
    spark: SparkSession, sf_dir: str, stats_dir: str | None = None
) -> DataFrame:
    """Per-source corpus data card. ``stats_dir`` is the scale path:
    when given, p50_chars / p90_chars are served from the MAINTAINED
    grouped fixed-width histogram (the "ghist" sketch of stats.SKETCHES
    over documents (source, n_chars)) via ``served_group_quantiles`` —
    |sources| x 64 integers of driver metadata instead of an exact
    percentile over the fact table. The default (None) keeps the exact
    graded surface; pytest pins the served values within one bin width
    of the exact ones."""
    from ..functions.stable import dsum

    docs = table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0))
    ).cast("bigint")
    pct = F.expr("percentile(n_chars, array(0.5D, 0.9D))")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_bpe).alias("n_bpe_tokens"),
        pct.alias("p"),
    )
    lc = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    # per_src is |sources| rows — broadcast into the lang-mix relation
    mix = lc.join(F.broadcast(per_src.select("source", "n_docs")), "source")
    # Staged stable_ln: identical op DAG to the oracle's inline
    # _ENT_TERM, ~17 KB less plan text.
    from ..functions.stable import with_stable_ln

    staged = with_stable_ln(
        with_stable_ln(mix, "n_docs", "_ln_n"), "c", "_ln_c"
    )
    ent = staged.groupBy("source").agg(
        dsum(F.expr("(c * 1.0 / n_docs) * (_ln_n - _ln_c)")).alias("raw_ent")
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top = (
        mix.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            # raw quotient, no round (SCALING rule 33): identical ints
            # through one correctly-rounded division — bit-identical
            (F.col("c") * F.lit(1.0) / F.col("n_docs")).alias(
                "top_lang_share"
            ),
        )
    )
    if stats_dir is None:
        p50 = F.round(F.col("p")[0], 6).alias("p50_chars")
        p90 = F.round(F.col("p")[1], 6).alias("p90_chars")
    else:
        from ..stats import served_group_quantiles

        served = served_group_quantiles(
            stats_dir, "documents", "source", "n_chars", (0.5, 0.9)
        )
        # bounded metadata: |sources| rows mapped through a literal
        m50 = F.create_map(
            *[F.lit(x) for g, qs in sorted(served.items()) for x in (g, qs["0.5"])]
        )
        m90 = F.create_map(
            *[F.lit(x) for g, qs in sorted(served.items()) for x in (g, qs["0.9"])]
        )
        p50 = m50[F.col("source")].alias("p50_chars")
        p90 = m90[F.col("source")].alias("p90_chars")
    return (
        per_src.join(top, "source")
        .join(ent, "source")
        .select(
            "source",
            "n_docs",
            "n_bpe_tokens",
            "top_lang",
            "top_lang_share",
            # raw decimal-summed entropy, no round (rule 33) — an
            # exact short decimal is the LIKELIEST value class to sit
            # on a 1e-6 midpoint (the psi sf0.001 tie)
            F.col("raw_ent").alias("lang_entropy"),
            p50,
            p90,
        )
    )


# ---------------------------------------------------------------------------
# decontaminate_exact — exact-substring decontamination, the companion of
# decontaminate_ngrams: n-gram overlap catches tokenized near-matches,
# this catches VERBATIM benchmark leakage (the "exact match" pass every
# eval-decontamination pipeline runs first). Eval probes are each held-out
# doc's leading span — the benchmark-prompt stand-in (same data-derived
# eval set as decontaminate_ngrams: doc_id < _EVAL_DOCS).
#
# Scale shape: the probe relation is ≤_EVAL_DOCS rows, broadcast into a
# nested-loop contains() scan — corpus × |probes| map-side character
# search, corpus touched once, nothing shuffles but the per-doc hit
# count (and that at doc grain).
# ---------------------------------------------------------------------------

_EXACT_SPAN = 40  # probe length (chars) — the benchmark-prompt stand-in

_EXACT_ORACLE = f"""
WITH probes AS (
  SELECT DISTINCT substring(text, 1, {_EXACT_SPAN}) AS s
  FROM documents WHERE doc_id < {_EVAL_DOCS} AND length(text) > 0
), hits AS (
  SELECT d.doc_id, count(*) AS n
  FROM documents d JOIN probes p ON contains(d.text, p.s)
  WHERE d.doc_id >= {_EVAL_DOCS}
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       cast(coalesce(h.n, 0) as bigint) AS n_exact_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= {_EVAL_DOCS}) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register("decontaminate_exact", oracle=_EXACT_ORACLE)
def decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    probes = (
        docs.where((F.col("doc_id") < _EVAL_DOCS) & (F.length("text") > 0))
        .select(F.substring("text", 1, _EXACT_SPAN).alias("s"))
        .distinct()
    )
    corpus = docs.where(F.col("doc_id") >= _EVAL_DOCS)
    hits = (
        corpus.select("doc_id", "text")
        .join(F.broadcast(probes), F.col("text").contains(F.col("s")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        corpus.select("doc_id")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_exact_hits"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_balance_gini — one-number imbalance summary of the per-source
# mass distribution (Gini coefficient over char mass): the health metric
# tracked alongside domain_mix_plan — a mix plan moves it, this measures
# it. G = 2·Σ(i·x_(i)) / (n·Σx) − (n+1)/n over sources sorted ascending.
#
# Scale shape: one map-side-combinable groupBy to |sources| rows; the
# rank window and final fold run on that tiny aggregate only. All sums
# are exact integers (char counts), so cross-engine parity needs no
# decimal bridge — one double division at the end.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH agg AS (
  SELECT source, sum(n_chars) AS x FROM documents GROUP BY source
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM agg
)
SELECT cast(count(*) as bigint) AS n_sources,
       cast(sum(x) as bigint) AS total_chars,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


@register("corpus_balance_gini", oracle=_GINI_ORACLE)
def corpus_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(F.sum("n_chars").alias("x"))
    w = Window.orderBy(F.asc("x"), F.asc("source"))  # over |sources| rows
    ranked = agg.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("x").cast("bigint").alias("total_chars"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("x"))
            / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# decontaminate_fuzzy — MinHash-LSH decontamination, the third leg of
# the decontam family: exact-substring (verbatim leakage) → n-gram
# overlap (tokenized near-matches) → FUZZY set similarity (this —
# paraphrased/reordered benchmark leakage where no 8-gram survives but
# the shingle sets still overlap heavily). Same eval convention as the
# other two (doc_id < _EVAL_DOCS is the held-out benchmark stand-in).
#
# Scale shape — asymmetric LSH join, NOT the dedup self-join: corpus
# signatures band into buckets once, the ≤_EVAL_DOCS eval bands are a
# broadcast probe, so candidates cost one broadcast-hash-join over the
# banded corpus (no corpus×corpus pairing anywhere). Verification
# semi-joins the shingle relation down to candidate docs + eval docs
# before the jaccard join — the shingle-similarity core of dedup.py
# pointed at a benchmark. The oracle runs the identical algorithm (same
# seeded hash family as dedup.py, so signatures agree engine-to-engine).
# ---------------------------------------------------------------------------

_FUZZY_T = 0.5  # jaccard threshold for "contaminated"


_FUZZY_ORACLE = f"""
WITH {_SQL_SHINGLES_CTE},
{_SQL_SIGS_CTE}, allbands AS (
  {_sql_band_selects()}
), ebands AS (
  SELECT doc_id AS eval_id, band, bh FROM allbands WHERE doc_id < {_EVAL_DOCS}
), cbands AS (
  SELECT doc_id, band, bh FROM allbands WHERE doc_id >= {_EVAL_DOCS}
), cand AS (
  SELECT DISTINCT c.doc_id, e.eval_id
  FROM cbands c JOIN ebands e ON c.band = e.band AND c.bh = e.bh
), {_sql_verify_cte("sc", "se", "doc_id", "eval_id")}, scored AS (
  SELECT v.doc_id,
         round(v.shared * 1.0 / (sc.sz + se.sz - v.shared), 6) AS j
  FROM ver v
  JOIN sizes sc ON sc.doc_id = v.doc_id
  JOIN sizes se ON se.doc_id = v.eval_id
), best AS (
  SELECT doc_id, count(*) AS n_candidates, max(j) AS max_jaccard
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       cast(coalesce(b.n_candidates, 0) as bigint) AS n_candidates,
       coalesce(b.max_jaccard, 0.0) AS max_jaccard,
       coalesce(b.max_jaccard, 0.0) >= {_FUZZY_T} AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= {_EVAL_DOCS}) d
LEFT JOIN best b ON b.doc_id = d.doc_id
"""


@register("decontaminate_fuzzy", oracle=_FUZZY_ORACLE)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: corpus docs whose shingle-set
    jaccard against any eval doc clears the threshold, found by an
    asymmetric MinHash-LSH probe (broadcast eval bands against banded
    corpus signatures) and verified exactly on candidates only."""
    sh = shingle_sets(spark, sf_dir)
    # cut: multi-consumer — the eval and corpus band branches would each
    # re-run the 16-aggregate signature groupBy
    bands = minhash_bands(cut(minhash_sigs(sh)))
    is_eval = F.col("doc_id") < _EVAL_DOCS
    # doc_a: the corpus doc; doc_b: the eval doc it collides with
    cand = band_candidates(bands.where(~is_eval), F.broadcast(bands.where(is_eval)))
    # shingles of candidate corpus docs + ALL eval shingles (eval is
    # broadcast-sized by definition)
    ver = shared_counts(
        cand, candidate_shingles(sh, cand, "doc_a"), sh.where(is_eval), size="sz"
    )
    best = (
        ver.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max(jaccard()).alias("max_jaccard"),
        )
    )
    corpus = table(spark, sf_dir, "documents").where(
        F.col("doc_id") >= _EVAL_DOCS
    )
    return (
        corpus.select("doc_id")
        .join(F.broadcast(best), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("max_jaccard", F.lit(0.0)) >= _FUZZY_T).alias(
                "contaminated"
            ),
        )
    )
