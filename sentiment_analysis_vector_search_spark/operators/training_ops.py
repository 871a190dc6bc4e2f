"""Training-feed preparation operators (new in r7).

The last mile between a curated corpus and a training run: a
deterministic global shuffle sharder (training-order randomization), an
epoch-aware decaying subsample plan (data-echoing shape), and the first
BPE merge-iteration's candidate table (tokenizer training feed). All
three are Column-expression only, oracle-verified, and shaped for the
100 TB corpus: the shuffle is the TeraSort range-partition device, the
epoch fan-out is a constant x3, and the BPE pair counts do their
explode work at VOCABULARY grain (bounded), never corpus grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, table
from ..functions.ranks import dist_ntile
from ..functions.stable import sql_stable_ln, with_stable_ln
from ..registry import register

_N_SHARDS = 16

_SHUFFLE_ORACLE = f"""
SELECT doc_id,
       ntile({_N_SHARDS}) OVER (
         ORDER BY md5(cast(doc_id as varchar)), doc_id
       ) AS shard
FROM documents
"""


@register("train_shuffle_shards", oracle=_SHUFFLE_ORACLE)
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    shard in 1..{n} by its position in md5(doc_id) order — a full-corpus
    pseudo-random permutation that is reproducible across runs and
    append-stable in distribution (new docs land uniformly).

    Scale shape: the md5 sort key makes the data UNIFORM by construction,
    so ``functions.ranks.dist_ntile``'s range repartition is the whole
    cost — one TeraSort-style shuffle, no single-partition window, no
    driver-side pass. Feed the output to ``sinks.write_training_shards``
    (or join it back as the shard column) to lay the corpus out in
    training order. The DuckDB oracle keeps the declarative ntile form.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("shuffle_key")
    )
    return dist_ntile(docs, "shuffle_key", "doc_id", _N_SHARDS, "shard")


# epoch -> keep-threshold over the 28-bit md5 hash domain: epoch e keeps
# a 2^-e fraction (1.0, 0.5, 0.25) — the decaying-reuse schedule of
# data-echoing / multi-epoch LLM training where later epochs see fresh
# but smaller subsets.
_EPOCH_THRESHOLDS = [(e, (1 << 28) >> e) for e in range(3)]

_EPOCHS_ORACLE = f"""
SELECT ep.epoch,
       source,
       count(*) AS n_docs,
       cast(sum(n_chars) as bigint) AS n_chars_total
FROM documents
CROSS JOIN (VALUES {", ".join(f"({e}, {t})" for e, t in _EPOCH_THRESHOLDS)})
  AS ep(epoch, thr)
WHERE cast(concat('0x', substring(
        md5(concat(cast(doc_id as varchar), ':', cast(ep.epoch as varchar))),
        1, 7)) as bigint) < ep.thr
GROUP BY ep.epoch, source
"""


@register("sample_epochs", oracle=_EPOCHS_ORACLE)
def sample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware deterministic subsampling plan: epoch e keeps a
    2^-e fraction of the corpus, selected by a per-(doc, epoch) md5 hash
    so each epoch's subset is different, reproducible, and append-stable
    (an ingested doc's epoch membership never changes). Returns the
    per-(epoch, source) volume audit a training scheduler consumes.

    Scale shape: a constant x3 literal fan-out (epoch, threshold)
    structs, a map-side integer-compare filter, then one partial-
    combinable aggregate — a single corpus pass, no joins, no windows.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ep = F.explode(
        F.array(
            *[
                F.struct(F.lit(e).alias("epoch"), F.lit(t).alias("thr"))
                for e, t in _EPOCH_THRESHOLDS
            ]
        )
    ).alias("ep")
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("ep.epoch").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.select("doc_id", "source", "n_chars", ep)
        .where(u < F.col("ep.thr"))
        .groupBy(F.col("ep.epoch").alias("epoch"), "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        )
    )


_BPE_TOP_N = 50

_BPE_ORACLE = rf"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
), vocab AS (
  SELECT w, count(*) AS wc FROM words WHERE w <> '' GROUP BY w
), pos AS (
  SELECT w, wc, unnest(range(1, len(w))) AS p FROM vocab WHERE len(w) >= 2
)
SELECT substring(w, cast(p as int), 2) AS pair,
       cast(sum(wc) as bigint) AS n
FROM pos
GROUP BY 1
ORDER BY n DESC, pair
LIMIT {_BPE_TOP_N}
"""


@register("bpe_merge_candidates", oracle=_BPE_ORACLE)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration's candidate table: adjacent character-
    pair frequencies weighted by word frequency, top-{n} by count — the
    count table a byte-pair tokenizer trainer consumes each round
    (subsequent rounds re-run this at symbol grain after each merge).

    Scale shape: the corpus is touched ONCE (token explode -> word-count
    partial agg); the pair explode then runs at VOCABULARY grain — a
    corpus 100x larger grows the vocab sub-linearly (Heaps' law), so the
    expensive generate never scales with corpus volume. explode_outer +
    isNotNull per the InferFiltersFromGenerate double-eval rule.
    """
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode_outer(F.split(F.lower("text"), r"\s+")).alias("w")
    ).where(F.col("w").isNotNull() & (F.col("w") != ""))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    pairs = (
        vocab.where(F.length("w") >= 2)
        .select(
            "wc",
            F.explode_outer(
                F.expr("transform(sequence(1, length(w) - 1), p -> substring(w, p, 2))")
            ).alias("pair"),
        )
        .where(F.col("pair").isNotNull())
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOP_N)
    )


# ---------------------------------------------------------------------------
# tok_bigram_pmi — PMI-ranked collocations: the adjacent-word-pair table a
# tokenizer/vocab designer reads to decide which multi-word units deserve
# merged tokens (and a corpus-quality signal: machine-generated text shows
# degenerate collocation structure). PMI(a,b) = ln(P(ab) / (P(a)P(b))),
# computed from one tokenized pass, min-count-filtered, top-K.
#
# Scale shape: the token relation is derived once (lazy cut,
# two consumers); the bigram generate is map-side over the token arrays
# (one struct per adjacent pair), both aggregates are partial-agg
# groupBys, and the unigram joins are vocabulary-grain equi-joins
# (Heaps-bounded, never corpus-sized). Scalar totals broadcast as 1-row
# relations. Top-K via orderBy+limit.
#
# Parity: PMI decomposes over integer counts — ln(P(ab)/(P(a)P(b))) =
# ln(n_pair) - ln(n_bi) - ln(ca) - ln(cb) + 2 ln(n_uni) — so every log
# is stable_ln over an exact integer and the combination is one fixed
# correctly-rounded op order shared by both engines (r10 verdict #3:
# engine-native ln in a hashed, ranked 6-dp column is a host-libm parity
# hazard); raw pmi ranks and emits (rule 33), ties by pair.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 30

# RAW combination, no round (SCALING rule 33): every ln is bit-identical
# cross-engine and the fixed op order keeps the combination bit-identical
# too; a final round(x, 6) would re-introduce the 1e-6-midpoint
# divergence class on unseen driver data.
_PMI_EXPR = (
    f"(((({sql_stable_ln('n_pair')} - {sql_stable_ln('n_bi')})"
    f" - {sql_stable_ln('ca')}) - {sql_stable_ln('cb')})"
    f" + 2.0 * {sql_stable_ln('n_uni')})"
)

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS t
  FROM documents
), uc AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), nu AS (
  SELECT cast(sum(c) as bigint) AS n_uni FROM uc
), bi AS (
  SELECT t[cast(p as int)] AS w1, t[cast(p as int) + 1] AS w2
  FROM (SELECT t, unnest(range(1, greatest(len(t), 1))) AS p FROM toks)
), bc AS (
  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2
), nb AS (
  SELECT cast(sum(n_pair) as bigint) AS n_bi FROM bc
), scored AS (
  SELECT w1, w2, n_pair, {_PMI_EXPR} AS pmi
  FROM (
    SELECT bc.w1, bc.w2, bc.n_pair, a.c AS ca, b.c AS cb, nu.n_uni, nb.n_bi
    FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, nu, nb
    WHERE n_pair >= {_PMI_MIN_COUNT}
  )
)
SELECT w1, w2, n_pair, pmi, rk FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk FROM scored
) WHERE rk <= {_PMI_TOP}
"""


@register("tok_bigram_pmi", oracle=_PMI_ORACLE)
def tok_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    # cut: multi-consumer — unigrams + bigrams
    toks = cut(docs.select(F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')").alias("t")))
    # cut: multi-consumer — nu, ca, cb
    uc = cut(
        toks.select(F.explode_outer("t").alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nu = uc.agg(F.sum("c").alias("n_uni"))
    pair_expr = (
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2)) "
        "ELSE array() END"
    )
    # cut: multi-consumer — nb + the scored join
    bc = cut(
        toks.select(F.explode_outer(F.expr(pair_expr)).alias("b"))
        .where(F.col("b").isNotNull())
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    nb = bc.agg(F.sum("n_pair").alias("n_bi"))
    ca = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    cb = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bc.where(F.col("n_pair") >= _PMI_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    # Staged stable_ln (r11 verdict #2): five inline calls cost ~42 KB of
    # plan text (the measured x2.3 compile regression); the staged form
    # is the identical op DAG over named columns — bit-equal to the
    # oracle's inline _PMI_EXPR.
    for col, out in [
        ("n_pair", "_ln_np"),
        ("n_bi", "_ln_nb"),
        ("ca", "_ln_ca"),
        ("cb", "_ln_cb"),
        ("n_uni", "_ln_nu"),
    ]:
        scored = with_stable_ln(scored, col, out)
    scored = scored.select(
        "w1",
        "w2",
        "n_pair",
        F.expr(
            "(((_ln_np - _ln_nb) - _ln_ca) - _ln_cb) + 2.0 * _ln_nu"
        ).alias("pmi"),
    )
    topk = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(_PMI_TOP)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))  # <=K rows
    return topk.withColumn("rk", F.row_number().over(w)).select(
        "w1", "w2", "n_pair", "pmi", "rk"
    )
