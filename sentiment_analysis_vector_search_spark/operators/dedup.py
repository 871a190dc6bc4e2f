"""Deduplication suite — first-class LLM-data-pipeline operators.

Five strategies over ``documents`` / ``embeddings``:

- exact (md5 groupBy),
- n-gram Jaccard (shingle-bucket join, never a cross join),
- MinHash + LSH banding (16 hashes, 4 bands → bucket join → exact verify),
- SimHash (60-bit, 15-bit-band candidates, hamming <= 3),
- embedding near-dup (sign-LSH band candidates → exact cosine verify),
- sentence overlap (the reference's has_duplicate_sentence semantics:
  shared non-quote non-citation sentence → duplicate pair).

Scale design: every pairwise operator generates candidates through an
equi-join on a bucket key (shingle, band hash, nibble, sign-bits) so the
shuffle is keyed and bounded; a document-frequency cap drops degenerate
super-common shingles (bounds the worst bucket at the cost of ignoring
boilerplate shingles — the standard trade at corpus scale). No O(n^2)
comparisons anywhere; the oracle replicates the same algorithm, caps
included, so approximation never breaks parity.

Reference tie-in: the reference dedups extracted sentences by exact
containment (extract_text_fun.py:57 has_duplicate_sentence); these operators
generalize that to corpus-scale near-dup detection.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, fan_out, memoized, table
from ..functions.hashing import (
    MOD31,
    md5_long,
    minhash_params,
    sql_md5_int31,
    sql_md5_long,
)
from ..functions.stable import davg, sql_davg
from ..functions.vectors import dot, hyperplanes, sql_plane_dot
from ..registry import register

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

_EXACT_ORACLE = f"""
WITH h AS (
  SELECT doc_id, {sql_md5_long('text')} AS text_hash FROM documents
), g AS (
  SELECT text_hash, count(*) AS group_size, min(doc_id) AS canonical_doc_id
  FROM h GROUP BY text_hash
)
SELECT doc_id, text_hash, group_size, canonical_doc_id,
       doc_id <> canonical_doc_id AS is_duplicate
FROM h JOIN g USING (text_hash)
"""


@register("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = docs.select("doc_id", md5_long(F.col("text")).alias("text_hash"))
    g = h.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("canonical_doc_id"),
    )
    return h.join(g, "text_hash").select(
        "doc_id",
        "text_hash",
        "group_size",
        "canonical_doc_id",
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# word-3-gram shingle sets (shared by jaccard + minhash)
# ---------------------------------------------------------------------------

_DF_CAP = 1000  # drop shingles present in more docs (bounds bucket blowup)
_JACCARD_T = 0.5

_SQL_SHINGLES_CTE = r"""
toksets AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), shingle_pos AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS p FROM toksets
), shingles AS (
  SELECT DISTINCT doc_id,
         t[cast(p as int)] || ' ' || t[cast(p as int) + 1] || ' ' || t[cast(p as int) + 2] AS sh
  FROM shingle_pos
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
)
"""


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, sh) word-trigram shingles of a docs frame."""
    return (
        docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("t") >= 3,
                    F.expr(
                        "transform(sequence(1, size(t) - 2),"
                        " p -> concat(t[p - 1], ' ', t[p], ' ', t[p + 1]))"
                    ),
                ).otherwise(F.expr("array()"))
            ).alias("sh"),
        )
        .distinct()
    )


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's shingle relation (doc_id, sh, df, sz, fsz): its
    ``doc_shingles`` with the shingle's document frequency ``df``, the
    doc's shingle count ``sz`` and its count ``fsz`` of shingles with
    ``df <= _DF_CAP``.

    One relation per (session, ``sf_dir``), built once behind one eager
    cut (``catalog.memoized``, dropped by ``catalog.refresh``): every
    shingle operator reads it several times (signatures, both sides of a
    pair or verify join) and takes its sizes and df cap from the carried
    columns, so the scan→explode→distinct shuffle and the df and size
    aggregates run once per corpus, not once per subtree and call.
    """
    return memoized(spark, sf_dir, "shingle_sets", lambda: _shingle_relation(spark, sf_dir))


def _shingle_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize + trigram transform + explode is the expensive scan-stage
    # projection: fan it out across cores.
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    n = F.count(F.lit(1))
    by_doc = Window.partitionBy("doc_id")
    rel = (
        doc_shingles(docs)
        .withColumn("df", n.over(Window.partitionBy("sh")))
        .select(
            "doc_id",
            "sh",
            "df",
            n.over(by_doc).alias("sz"),
            F.count(F.when(F.col("df") <= _DF_CAP, 1)).over(by_doc).alias("fsz"),
        )
    )
    # cut: multi-consumer — every shingle operator of the session reads it
    return cut(rel, eager=True)


# ---------------------------------------------------------------------------
# The shingle-similarity core. Every shingle operator (n-gram Jaccard,
# MinHash-LSH and its quality audit, containment, fuzzy decontamination,
# the persisted MinHash index) is a composition of these blocks:
# - the MinHash band relation: ``minhash_sigs`` → ``minhash_bands``;
# - the banded candidate join: ``band_candidates``;
# - the candidate-side semi-join and shared-count verify:
#   ``candidate_shingles`` → ``shared_counts``;
# - the df-capped shingle pair count: ``shingle_pair_counts``;
# - one rounded score: ``shared_ratio`` (``jaccard``), over the set
#   sizes the pair carries.
# ---------------------------------------------------------------------------


def _pair_join(a: DataFrame, b: DataFrame, *keys: str, ordered: bool = True) -> DataFrame:
    """``a`` equi-joined to ``b`` on ``keys`` under the aliases ``a`` and
    ``b``; ``ordered`` keeps one row per pair, a.doc_id < b.doc_id."""
    on = reduce(Column.__and__, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    if ordered:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    return a.alias("a").join(b.alias("b"), on)


def _pair_ids() -> list[Column]:
    """A ``_pair_join``'s doc ids as (doc_a, doc_b)."""
    return [F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")]


def shingle_pair_counts(sh: DataFrame, size: str) -> DataFrame:
    """(doc_a, doc_b, {size}_a, {size}_b, shared): every pair of docs of a
    ``shingle_sets`` relation sharing a shingle, with its shared count and
    each doc's ``size`` column, doc_a < doc_b — the shingle-keyed
    self-join, never a cross join. Boilerplate is dropped first: a
    shingle present in more than ``_DF_CAP`` docs would add C(df, 2)
    pairs."""
    rows = sh.where(F.col("df") <= _DF_CAP)
    sizes = [F.col(f"{s}.{size}").alias(f"{size}_{s}") for s in "ab"]
    return (
        _pair_join(rows, rows, "sh")
        .groupBy(*_pair_ids(), *sizes)
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def band_candidates(bands: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs of (doc_id, band, bh) rows that share
    a band bucket: the banded self-join of ``bands`` (doc_a < doc_b), or,
    with ``probe``, ``bands`` probed by ``probe``'s buckets (doc_b)."""
    ordered = probe is None
    joined = _pair_join(bands, bands if ordered else probe, "band", "bh", ordered=ordered)
    # cut: multi-consumer — the candidate relation feeds the id semi-join
    # AND the verify join; without it the band join runs twice.
    return cut(joined.select(*_pair_ids()).distinct(), eager=True)


def candidate_shingles(sh: DataFrame, cand: DataFrame, *ids: str) -> DataFrame:
    """``sh`` semi-joined down to the docs named in ``cand``'s ``ids``
    columns, BEFORE the verify join: only docs that collided in some band
    can contribute a verified pair, so the verify shuffle moves candidate
    shingles, not the whole corpus. The id set is near-dup-bounded (tiny
    relative to the corpus) → broadcast; at extreme candidate volumes drop
    the hint and let AQE pick a shuffled semi-join."""
    docs = reduce(DataFrame.union, [cand.select(F.col(c).alias("doc_id")) for c in ids])
    return sh.join(F.broadcast(docs.distinct()), "doc_id", "left_semi")


def shared_counts(
    cand: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    size: str | None = None,
) -> DataFrame:
    """(a, b, shared): each candidate pair of ``cand`` with the count of
    shingles its ``a`` doc (rows of ``sh_a``) and ``b`` doc (``sh_b``)
    share; with ``size``, each side's ``size`` column rides along as
    ``{size}_a`` and ``{size}_b``."""
    keys = [a, b]
    if size is not None:
        sh_a = sh_a.select("doc_id", "sh", F.col(size).alias(f"{size}_a"))
        sh_b = sh_b.select("doc_id", "sh", F.col(size).alias(f"{size}_b"))
        keys += [f"{size}_a", f"{size}_b"]
    return (
        cand.join(sh_a.withColumnsRenamed({"doc_id": a}), a)
        .join(sh_b.withColumnsRenamed({"doc_id": b}), [b, "sh"])
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def shared_ratio(denom: Column) -> Column:
    """``round(shared / denom, 6)``: every shingle score (Jaccard,
    containment) rounds the same way its oracle does."""
    return F.round(F.col("shared") * F.lit(1.0) / denom, 6)


def jaccard(sz_a: str = "sz_a", sz_b: str = "sz_b") -> Column:
    """The rounded Jaccard of a pair with ``shared`` and both set sizes."""
    return shared_ratio(F.col(sz_a) + F.col(sz_b) - F.col("shared"))


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH {_SQL_SHINGLES_CTE},
freq AS (
  SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= {_DF_CAP}
), filtered AS (
  SELECT s.doc_id, s.sh FROM shingles s JOIN freq USING (sh)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM filtered a JOIN filtered b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) >= {_JACCARD_T}
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        shingle_pair_counts(shingle_sets(spark, sf_dir), "sz")
        .select("doc_a", "doc_b", "shared", jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= _JACCARD_T)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding: 16 hashes, 4 bands of 4 rows; band-bucket join
# produces candidates, exact Jaccard verifies. Signature agg is a single
# groupBy over shingles (map-side combinable mins).
# ---------------------------------------------------------------------------

_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
_MH_PARAMS = minhash_params(_N_HASHES, seed=42)


# Spark-side SQL text twins of the minhash signature/band builders.
# The stacked-Column idiom costs ~10 py4j round trips per hash term
# (~0.3 s of per-EXECUTION driver latency across the 16 aggregates +
# 4 band structs; each bench rep and each production submission
# rebuilds the DataFrame). One parsed expression per aggregate yields
# the identical analyzed ops — results and plans unchanged.
def _spark_md5_int31(col: str) -> str:
    return f"cast(conv(substring(md5({col}), 1, 7), 16, 10) as bigint)"


def minhash_sig_exprs(col: str = "sh") -> list:
    """The 16 ``min((md5_int31(col) * a + b) % MOD31) AS mh{i}`` aggregate
    columns, parsed from SQL text (Spark-side twin of the oracle's
    ``_sql_minhash_aggs``). ``col`` names the shingle column the text
    resolves against."""
    return [
        F.expr(
            f"min((({_spark_md5_int31(col)}) * {a} + {b}) % {MOD31}) AS mh{i}"
        )
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]


def band_structs_expr():
    """array(struct(band, bh), ...) over the mh columns as ONE parsed
    expression (Spark-side twin of the oracle's ``_sql_band_selects``)."""
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {cols})) AS bh)".format(
            b=band,
            cols=", ".join(
                f"cast(mh{band * _ROWS_PER_BAND + r} as string)"
                for r in range(_ROWS_PER_BAND)
            ),
        )
        for band in range(_N_BANDS)
    )
    return F.expr(f"array({structs})")


def minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15) MinHash signatures of a shingle relation: one
    map-side-combinable groupBy of mins."""
    return sh.groupBy("doc_id").agg(*minhash_sig_exprs())


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bh) LSH band buckets of a ``minhash_sigs`` frame."""
    return sigs.select("doc_id", F.explode(band_structs_expr()).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def _sql_minhash_aggs() -> str:
    base = sql_md5_int31("sh")
    return ",\n         ".join(
        f"min((({base}) * {a} + {b}) % {MOD31}) AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )


def _sql_band_selects() -> str:
    selects = []
    for band in range(_N_BANDS):
        cols = ", ".join(
            f"cast(mh{band * _ROWS_PER_BAND + r} as varchar)"
            for r in range(_ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT doc_id, {band} AS band, md5(concat_ws(',', {cols})) AS bh FROM sigs"
        )
    return "\nUNION ALL\n".join(selects)


# The oracles' MinHash CTEs: signatures, then (minhash, keep-canonical,
# audit) bands and banded candidates, then the shared-shingle verify.
_SQL_SIGS_CTE = f"""sigs AS (
  SELECT doc_id,
         {_sql_minhash_aggs()}
  FROM shingles GROUP BY doc_id
)"""

_SQL_CAND_CTES = f"""{_SQL_SIGS_CTE}, bands AS (
  {_sql_band_selects()}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""


def _sql_verify_cte(sa: str, sb: str, doc_a: str = "doc_a", doc_b: str = "doc_b") -> str:
    return f"""ver AS (
  SELECT c.{doc_a}, c.{doc_b}, count(*) AS shared
  FROM cand c
  JOIN shingles {sa} ON {sa}.doc_id = c.{doc_a}
  JOIN shingles {sb} ON {sb}.doc_id = c.{doc_b} AND {sb}.sh = {sa}.sh
  GROUP BY 1, 2
)"""


_MINHASH_ORACLE = f"""
WITH {_SQL_SHINGLES_CTE},
{_SQL_CAND_CTES}, {_sql_verify_cte("sa", "sb")}
SELECT v.doc_a, v.doc_b,
       round(v.shared * 1.0 / (sa.sz + sb.sz - v.shared), 6) AS jaccard
FROM ver v
JOIN sizes sa ON sa.doc_id = v.doc_a
JOIN sizes sb ON sb.doc_id = v.doc_b
"""


def _minhash_verified(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The corpus's MinHash signatures and its banded candidate pairs
    with their shared-shingle count and both sizes (doc_a, doc_b, shared,
    sz_a, sz_b)."""
    sh = shingle_sets(spark, sf_dir)
    # cut: multi-consumer — both band self-join sides and the probe branch
    # (and the audit's estimate joins) would each re-run the 16-aggregate
    # signature groupBy (a broadcast side defeats exchange reuse). The cut
    # hides size stats from Catalyst, so the band joins shuffle — intended:
    # doc-grain sides are never broadcastable at corpus scale.
    sigs = cut(minhash_sigs(sh))
    cand = band_candidates(minhash_bands(sigs))
    sh_cand = candidate_shingles(sh, cand, "doc_a", "doc_b")
    return sigs, shared_counts(cand, sh_cand, sh_cand, size="sz")


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, verified = _minhash_verified(spark, sf_dir)
    return verified.select("doc_a", "doc_b", jaccard().alias("jaccard"))


# ---------------------------------------------------------------------------
# SimHash: 60-bit signature from tf-weighted token-hash bits (md5_long gives
# 60 usable bits); candidates must share one of 4 15-bit bands (pigeonhole:
# hamming <= 3 flips at most 3 of the 4 bands, so one band always matches).
# 2^15 buckets per band keeps bucket occupancy ~n/32768 — the self-join stays
# near-linear at scale, unlike narrow nibble buckets that collide everything.
# ---------------------------------------------------------------------------

_SIM_BITS = 60
_SIM_BANDS = 4
_SIM_BAND_BITS = 15
_SIM_BAND_MASK = (1 << _SIM_BAND_BITS) - 1
_SIM_HAMMING = 3


def _sql_simhash() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS s{i}"
        for i in range(_SIM_BITS)
    )
    sig = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIM_BITS))
    return f"""
tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok WHERE word <> '' GROUP BY 1, 2
), bits AS (
  SELECT doc_id, {sql_md5_long('word')} AS h, tf FROM tf
), sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM bits GROUP BY doc_id
), sig AS (
  SELECT doc_id, {sig} AS simhash FROM sums
)"""


_SIMHASH_ORACLE = f"""
WITH {_sql_simhash()},
bands AS (
  SELECT doc_id, simhash, unnest(range({_SIM_BANDS})) AS band,
         (simhash >> (cast(unnest(range({_SIM_BANDS})) as int) * {_SIM_BAND_BITS})) & {_SIM_BAND_MASK} AS nibble
  FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.nibble = b.nibble AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cast(bit_count(xor(sim_a, sim_b)) as int) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {_SIM_HAMMING}
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature via explode + ONE partial-aggregable groupBy with 60
    # conditional sums — the oracle's own formulation, and whole-stage
    # codegen end-to-end. A row-local higher-order-function form avoids
    # this shuffle but pays ~64 INTERPRETED closure evals per token and
    # goes super-linear in the 100x scale smoke, while this codegen form
    # stays linear (summing +-1 per token == summing +-tf per distinct
    # word, so the tf stage is folded away; the shuffle carries 60
    # combined longs per doc per map partition, not tokens).
    docs = fan_out(spark, table(spark, sf_dir, "documents"))
    # explode_outer + isNotNull, NOT explode: InferFiltersFromGenerate
    # would push a size()>0 filter below the generate and re-evaluate the
    # computed token array twice per row.
    toks = docs.select(
        "doc_id",
        F.explode_outer(
            F.expr(r"filter(split(lower(text), '\\s+'), w -> w <> '')")
        ).alias("word"),
    ).where(F.col("word").isNotNull())
    bits = toks.select("doc_id", md5_long(F.col("word")).alias("h"))
    # The 60 conditional sums and the 60-term signature fold are built as
    # SQL TEXT (one parse round trip per expression) instead of stacked
    # Column operators: the Column form costs ~8 py4j round trips per
    # term — ~1 s of per-EXECUTION driver latency for this constructor
    # alone (each bench rep and each production submission rebuilds the
    # DataFrame). The parsed trees are the identical ops, so
    # plan and results are unchanged (pytest-pinned vs the oracle).
    sums = bits.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS s{i}"
            )
            for i in range(_SIM_BITS)
        ]
    )
    sig_terms = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIM_BITS)
    )
    # cut: multi-consumer — both self-join sides would each evaluate the
    # scan→tokenize→60-sum pipeline (a broadcast side defeats exchange
    # reuse). Contrast emb_candidate_pairs, where the duplicated subtree
    # is 2k cheap rows and the broadcast wins.
    sig = cut(
        sums.select("doc_id", F.expr(f"cast(({sig_terms}) as bigint) AS simhash"))
    )
    bands = (
        sig.select(
            "doc_id",
            "simhash",
            F.explode(F.array(*[F.lit(i) for i in range(_SIM_BANDS)])).alias("band"),
        )
        .withColumn(
            "nibble",
            F.expr(f"shiftright(simhash, band * {_SIM_BAND_BITS}) & {_SIM_BAND_MASK}"),
        )
        # Explicit exchange on the join key: both sides of the self-join below
        # are this exact subplan, so Spark reuses one shuffle (ReusedExchange)
        # and the signature expression tree is evaluated once, not twice.
        .repartition("band", "nibble")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nibble") == F.col("b.nibble"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= _SIM_HAMMING
    )


# ---------------------------------------------------------------------------
# embedding near-dup: sign-LSH candidates (40 seeded planes, 8 OR-bands of
# 5 bits) verified by exact cosine >= threshold. The band join is the scale
# path: candidates are bucket-joined, never crossed.
# ---------------------------------------------------------------------------

_EMB_T = 0.5
# 8 bands x 8 bits by default: P(bucket collision | random pair)
# = 1/256 per band, while a true near-dup pair (cosine >= 0.5) collides
# in >= 1 band with p ~ 1-(1-(2/3)^8)^8 ~ 0.27 (a high-cosine dup at 0.9
# still collides with p ~ 0.94 — the regime exact dedup cares about).
#
# BAND WIDTH IS THE SCALE KNOB: expected candidate pairs per band grow as
# n^2 / 2^bits. 5 bits suits recall on a ~10^3-vector corpus but grows
# 1.2-2.7x SUPER-linear per 10x vectors (bucket occupancy grows with the
# corpus, candidate pairs quadratically within buckets); 8 bits stays
# 0.72-0.87x linear on identical data. A 100 TB deploy that forgets the
# env var must get the scale-safe setting, so 8 is the default and 5 is
# the opt-in small-corpus setting (SPARK_GRAFT_EMB_BAND_BITS=5; see
# SCALING.md rule 3). For a KNOWN corpus size,
# :func:`emb_band_bits_for` derives the width from row-count stats
# (stats.table_stats) so candidate volume stays ~linear. The knob is
# read at import and the DuckDB oracle text is GENERATED from the same
# constants, so parity holds at any width — tests/test_dedup.py runs the
# parity suite in a subprocess with a non-default width to pin that.
_EMB_BANDS = 8
_EMB_BAND_BITS = int(os.environ.get("SPARK_GRAFT_EMB_BAND_BITS", "8"))
_EMB_PLANES = hyperplanes(_EMB_BANDS * _EMB_BAND_BITS, 64, seed=7)


def emb_band_bits_for(n_vectors: int, pairs_per_vector: float = 8.0) -> int:
    """Stats-informed band width: the smallest bits such
    that EXPECTED random-collision candidate pairs stay ~linear in n —
    E[pairs/band] ~ n^2 / 2^(bits+1) <= pairs_per_vector * n, i.e.
    bits >= log2(n / (2 * pairs_per_vector)). Clamped to [8, 24]: never
    below the scale-safe default, never past the 3-bytes-of-bucket-key
    point where per-band recall (2/3)^bits for a threshold-cosine pair
    is < 1e-4 and MORE BANDS, not wider ones, is the right lever. Feed
    ``stats.table_stats(...)[col]['n_rows']`` and export the result as
    SPARK_GRAFT_EMB_BAND_BITS (import-time knob: the oracle text embeds
    the plane constants)."""
    import math

    if n_vectors <= 1:
        return 8
    need = math.ceil(math.log2(max(n_vectors / (2.0 * pairs_per_vector), 1.0)))
    return max(8, min(24, need))


def _sql_emb_bit_cols() -> str:
    return ",\n         ".join(
        f"CASE WHEN {sql_plane_dot('v', p)} > 0 THEN 1 ELSE 0 END AS bit{i}"
        for i, p in enumerate(_EMB_PLANES)
    )


def _sql_emb_band_selects() -> str:
    selects = []
    for b in range(_EMB_BANDS):
        bucket = " + ".join(
            f"bit{b * _EMB_BAND_BITS + r} * {1 << (_EMB_BAND_BITS - 1 - r)}"
            for r in range(_EMB_BAND_BITS)
        )
        selects.append(
            f"SELECT vec_id, v, nrm, {b} AS band, {bucket} AS bucket FROM sig"
        )
    return "\n  UNION ALL\n  ".join(selects)


# CTE list shared with dedup_components' recursive-CTE oracle.
_EMB_CTES = f"""vecs AS (
  SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings
), sig AS (
  SELECT vec_id, v,
         sqrt(list_dot_product(v, v)) AS nrm,
         {_sql_emb_bit_cols()}
  FROM vecs
), bands AS (
  {_sql_emb_band_selects()}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)"""

_EMB_ORACLE = f"""
WITH {_EMB_CTES}
SELECT vec_a, vec_b, cosine FROM cand WHERE cosine >= {_EMB_T}
"""


def emb_signatures(vectors: DataFrame) -> DataFrame:
    """Sign-LSH signatures of a ``(vec_id, v array<double>)`` frame:
    (vec_id, v, nrm, buckets array<int> — one bucket per band).

    An Arrow batch stage, not per-row higher-order functions: 40+ plane
    dots x 64 dims of interpreted lambda math took 3.1s for 2,000
    vectors (~600x the arithmetic cost); one einsum per Arrow batch does
    the identical algebra vectorized. Exact-parity notes: einsum without
    `optimize` sums j left-to-right — the same fold order as the SQL
    aggregate and the oracle's list_dot_product — and the sign/bucket
    math is integer-exact. At scale this is the same shape as
    ann_bruteforce_topk_arrow: the plane matrix is process-resident per
    executor, the scan distributes. A signature depends ONLY on its own
    vector (fixed seeded planes), which is the frozen-derivation
    property the persisted embedding index (dedup_index, kind emb) relies on.
    """
    import numpy as np

    pmat = np.array([[float(c) for c in p] for p in _EMB_PLANES], dtype=np.float64)
    band_weights = np.array(
        [1 << (_EMB_BAND_BITS - 1 - r) for r in range(_EMB_BAND_BITS)],
        dtype=np.int64,
    )
    bp = vectors.sparkSession.sparkContext.broadcast((pmat, band_weights))

    def signatures(batches):
        import pyarrow as pa

        b_pmat, b_weights = bp.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            vec_id = batch.column(names.index("vec_id"))
            v = batch.column(names.index("v"))
            flat = v.flatten().to_numpy(zero_copy_only=False)
            dim = b_pmat.shape[1]
            if len(flat) != n * dim:
                # Fail loud: a null or ragged embedding list would either
                # raise an opaque reshape error or (if lengths happen to
                # divide) silently misalign vec_ids with vectors.
                raise ValueError(
                    f"emb_signatures: expected {n} non-null {dim}-dim "
                    f"embeddings, got {len(flat)} flat values"
                )
            vmat = flat.reshape(n, dim)
            nrm = np.sqrt(np.einsum("ij,ij->i", vmat, vmat))
            bits = (np.einsum("ij,kj->ik", vmat, b_pmat) > 0).astype(np.int64)
            buckets = bits.reshape(n, _EMB_BANDS, _EMB_BAND_BITS) @ b_weights
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    v,
                    pa.array(nrm, pa.float64()),
                    pa.array(buckets.tolist(), pa.list_(pa.int32())),
                ],
                names=["vec_id", "v", "nrm", "buckets"],
            )

    return vectors.mapInArrow(
        signatures, "vec_id bigint, v array<double>, nrm double, buckets array<int>"
    )


@register("dedup_embedding", oracle=_EMB_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(spark, table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return emb_candidate_pairs(emb)


def emb_candidate_pairs(vectors: DataFrame) -> DataFrame:
    """Banded sign-LSH near-dup pairs of a ``(vec_id, v)`` frame:
    (vec_a, vec_b, cosine >= threshold) with vec_a < vec_b — the batch
    operator's body, frame-parameterized so the persisted embedding
    index (dedup_index, kind emb) can pin incremental ≡ batch on any corpus."""
    sig = emb_signatures(vectors)
    # No explicit repartition here (unlike dedup_simhash): the band
    # relation is small enough that AQE broadcasts one join side, which
    # beats forcing a shuffle for exchange reuse (measured 2.0s vs 3.2s).
    bands = sig.select(
        "vec_id",
        "v",
        "nrm",
        F.posexplode("buckets").alias("band", "bucket"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cosine = F.round(
        dot("a.v", "b.v")
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .distinct()
    )
    return cand.where(F.col("cosine") >= _EMB_T)


# ---------------------------------------------------------------------------

_SENT_MIN_CHARS = 15
_SENT_MAX_DF = 100  # boilerplate cap: sentences in more docs are not dup signal

# Reference citation/quote patterns (RE2-safe: no backreferences), applied
# identically by Spark (rlike) and DuckDB (regexp_matches).
_SENT_EXCLUDE_RES = (
    r"""['"].*['"]""",
    r"\[.*\]",
    r"\(.*\)",
    r"(?i)according to",
    r"(?i)said",
    r"(?i)quoted",
    r"(?i)states",
    r"(?i)mentioned",
)


def _sent_excluded_spark(col: Column) -> Column:
    out = F.lit(False)
    for p in _SENT_EXCLUDE_RES:
        out = out | col.rlike(p)
    return out


def _sent_excluded_sql(col: str) -> str:
    esc = [p.replace("'", "''") for p in _SENT_EXCLUDE_RES]
    return " OR ".join(f"regexp_matches({col}, '{p}')" for p in esc)


_SENT_OVERLAP_ORACLE = f"""
WITH sents AS (
  SELECT DISTINCT doc_id, trim(s) AS sentence
  FROM (
    SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
    FROM documents
  )
  WHERE length(trim(s)) > {_SENT_MIN_CHARS}
    AND NOT ({_sent_excluded_sql('trim(s)')})
), kept AS (
  SELECT s.doc_id, s.sentence FROM sents s
  JOIN (
    SELECT sentence FROM sents GROUP BY sentence HAVING count(*) <= {_SENT_MAX_DF}
  ) f USING (sentence)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS shared_sentences,
       min(a.sentence) AS example_sentence
FROM kept a JOIN kept b ON a.sentence = b.sentence AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@register("dedup_sentence_overlap", oracle=_SENT_OVERLAP_ORACLE)
def dedup_sentence_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sents = (
        docs.select("doc_id", F.explode(F.split("text", r"[.!?]+")).alias("s"))
        .select("doc_id", F.trim("s").alias("sentence"))
        .where(F.length("sentence") > _SENT_MIN_CHARS)
        .where(~_sent_excluded_spark(F.col("sentence")))
        .distinct()
    )
    freq = (
        sents.groupBy("sentence")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _SENT_MAX_DF)
        .select("sentence")
    )
    kept = sents.join(freq, "sentence")
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sentence") == F.col("b.sentence"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_sentences"),
            F.min(F.col("a.sentence")).alias("example_sentence"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_components — connected components over the near-dup pair graph:
# the cluster-assignment step that turns pairwise matches into dedup
# groups (keep one doc per component). Spark side is Pregel-style min-label
# propagation: each iteration is one distributed join + aggregate, the
# driver only checks the converged-yet scalar. O(diameter) rounds — near-dup
# components are shallow (dup chains), so 3-5 rounds in practice. The
# DuckDB oracle computes the same fixpoint with a recursive CTE.
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
WITH RECURSIVE {_EMB_CTES},
pairs AS (
  SELECT vec_a, vec_b FROM cand WHERE cosine >= {_EMB_T}
), edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION ALL
  SELECT vec_b AS a, vec_a AS b FROM pairs
), reach(id, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
), cc AS (
  SELECT id, min(comp) AS component FROM reach GROUP BY id
)
SELECT id, component,
       count(*) OVER (PARTITION BY component) AS component_size
FROM cc
"""

_CC_MAX_ITERS = 50
# Iterate-state parallelism: every round shuffles the (tiny relative to the
# corpus) edge/label relations; under a default-conf session each round
# would run 200-task stages over kilobytes. Pinned here, restored after the
# fixpoint — the returned frame is already materialized by then. Size to
# cluster/key-cardinality via the env knob at real scale.
_CC_PARTS = os.environ.get("SPARK_GRAFT_CC_PARTITIONS", "8")


@register("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _CC_PARTS)
    try:
        comp = _cc_fixpoint(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    w = Window.partitionBy("component")
    return comp.withColumn("component_size", F.count(F.lit(1)).over(w))


def _cc_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs stay LAZY: _components_from_pairs reads them exactly once
    # (single-explode symmetrization), so the expensive LSH subtree
    # evaluates once inside the edge materialization — no separate
    # persist+count job for the pair relation.
    return _components_from_pairs(
        dedup_embedding(spark, sf_dir).select("vec_a", "vec_b")
    )


# Lineage-truncation cadence: persisted-but-not-checkpointed rounds keep a
# logical plan that grows with iteration count; a cut every k
# rounds bounds it (path halving converges in O(log diameter) rounds, so k=4
# means at most ~1-2 checkpoints per run instead of one per round).
_CC_CK_EVERY = 4


def _components_from_pairs(pairs: DataFrame) -> DataFrame:
    """Min-label connected components over a 2-column pair frame.

    ``pairs`` may be LAZY: the symmetrized + self-looped edge
    relation is built in ONE pass over it — explode each pair into its
    four directed/self-loop edges, then distinct — so the expensive
    candidate subtree evaluates exactly once, inside the single edge
    materialization job, instead of needing its own persist+count.
    Returns (id, component).

    Iteration-state lifecycle, which keeps executor memory flat across
    rounds: each round's label frame is persisted (MEMORY_AND_DISK) and
    the PREVIOUS round's blocks are released explicitly the moment the
    new round is materialized, instead of an eager cut per round whose
    blocks linger until garbage collection. A cut is kept only every
    ``_CC_CK_EVERY`` rounds, purely for lineage truncation (on a real
    cluster: a reliable checkpoint at the same cadence).
    """
    p = pairs.toDF("pa", "pb")
    # Self-loops fold the "keep own label" branch into the neighbor-min
    # aggregate: each round is then ONE keyed join + ONE groupBy instead
    # of the 3-join chain (neighbor join, left-join back, coalesce).
    # distinct dedups the per-pair self-loop copies so the per-round join
    # volume stays |E|·2 + |V|, not degree-inflated. The literal 4-struct
    # array is trivially cheap under InferFiltersFromGenerate's double
    # evaluation, so plain explode is safe here.
    four = F.array(
        F.struct(F.col("pa").alias("a"), F.col("pb").alias("b")),
        F.struct(F.col("pb").alias("a"), F.col("pa").alias("b")),
        F.struct(F.col("pa").alias("a"), F.col("pa").alias("b")),
        F.struct(F.col("pb").alias("a"), F.col("pb").alias("b")),
    )
    # persist WITHOUT a count action: the init probe below reads every
    # edges_sl partition (full groupBy scan), so one action materializes
    # the edge cache AND the initial labeling together — the separate
    # count() job (plus its AQE stage jobs) was pure fixed cost.
    edges_sl = p.select(F.explode(four).alias("e")).select("e.a", "e.b").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if pairs.is_cached:
        pairs.unpersist(blocking=False)
    # Round 1 folded into initialization: component(id) = min(id, neighbors)
    # is exactly what the first propagation round would compute from the
    # identity labeling — one groupBy instead of init + a full round.
    comp = (
        edges_sl.groupBy(F.col("b").alias("id"))
        .agg(F.min("a").alias("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Convergence probe: labels only ever decrease under min-propagation, so
    # sum(component) is strictly decreasing until the fixpoint. The probe is
    # ALSO the action that materializes each round's persisted frame, so it
    # costs one narrow ~ms job per round, never a re-derivation.
    _sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    prev_sum = _sum(comp)  # materializes edges_sl + init labels (AQE on:
    # this action also evaluates the candidate subtree, which wants it)
    releasable = comp  # persisted frame whose blocks we still hold
    # AQE OFF for the round probes: every round reads
    # only the two cached 8-partition frames, so adaptive re-planning
    # buys nothing while charging ~one driver-side job per exchange it
    # materializes — with it off each probe is ONE job. Restored after.
    spark = pairs.sparkSession
    _AQE = "spark.sql.adaptive.enabled"
    aqe_prev = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "false")
    try:
        comp, releasable = _cc_rounds(edges_sl, comp, prev_sum, releasable, _sum)
    finally:
        spark.conf.set(_AQE, aqe_prev)
    # cut: loop lineage — the converged labels leave with a bounded plan,
    # so the persisted round frames below can be released.
    final = comp if releasable is None else cut(comp, eager=True)
    if releasable is not None:
        releasable.unpersist(blocking=False)
    edges_sl.unpersist(blocking=False)
    return final


def _cc_rounds(edges_sl, comp, prev_sum, releasable, _sum):
    """The min-label fixpoint loop (split out so the AQE toggle wraps
    exactly the rounds). Returns (converged labels, releasable)."""
    for i in range(_CC_MAX_ITERS):
        # One min-propagation hop, persisted and probed BEFORE the
        # pointer jump (per-job fixed cost dominates this query):
        # - the hop probe doubles as the convergence check, so the FINAL
        #   (confirming) round pays one cheap join+groupBy, never a jump;
        # - a non-converged round's jump self-joins the CACHED hop frame
        #   instead of double-evaluating the hop subtree (a lazy jump
        #   re-runs the join+groupBy twice inside one action).
        stepped = (
            edges_sl.join(comp, edges_sl.a == comp.id)
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("component").alias("component"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        new_sum = _sum(stepped)  # action: materializes the hop
        if new_sum == prev_sum:
            # fixpoint: stepped == comp by label values; keep comp (same
            # values, already materialized) and drop the probe frame.
            stepped.unpersist(blocking=False)
            break
        # pointer jumping (path halving): also adopt the label of the current
        # label's row — rounds become O(log diameter) instead of O(diameter).
        m = stepped.select(
            F.col("id").alias("mid"), F.col("component").alias("mcomp")
        )
        jumped = stepped.join(m, stepped.component == m.mid).select(
            "id",
            F.least(F.col("component"), F.col("mcomp")).alias("component"),
        )
        if (i + 1) % _CC_CK_EVERY == 0:
            new_comp = cut(jumped, eager=True)  # cut: loop lineage
            new_releasable = None
        else:
            new_comp = jumped.persist(StorageLevel.MEMORY_AND_DISK)
            new_releasable = new_comp
        new_sum = _sum(new_comp)  # action: materializes new_comp
        # Release the hop frame and the previous round's blocks NOW.
        # new_comp is itself materialized (MEMORY_AND_DISK — eviction
        # spills, never drops), so nothing downstream re-reads a parent.
        stepped.unpersist(blocking=False)
        if releasable is not None and releasable is not new_comp:
            releasable.unpersist(blocking=False)
        releasable = new_releasable
        comp = new_comp
        prev_sum = new_sum
    return comp, releasable


# ---------------------------------------------------------------------------
# dedup_keep_canonical — the end-to-end dedup endpoint a corpus pipeline
# actually runs: minhash-LSH candidates → exact-Jaccard verify (>= τ) →
# connected components → canonical survivor (min doc_id) per near-dup
# group. Composes the machinery above: one shingle materialization, one
# banded candidate join, one fixpoint — each stage already individually
# scale-audited. Output covers every doc that belongs to some near-dup
# group (singletons pass through a dedup untouched, so they carry no
# information here); `is_duplicate` rows are exactly what a keep-filter
# anti-joins out of the corpus. The oracle replays the identical
# pipeline with a recursive CTE for the fixpoint.
# ---------------------------------------------------------------------------

_KEEP_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES_CTE},
{_SQL_CAND_CTES}, {_sql_verify_cte("sa", "sb")}, pairs AS (
  SELECT v.doc_a, v.doc_b
  FROM ver v
  JOIN sizes sa ON sa.doc_id = v.doc_a
  JOIN sizes sb ON sb.doc_id = v.doc_b
  WHERE round(v.shared * 1.0 / (sa.sz + sb.sz - v.shared), 6) >= {_JACCARD_T}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(id, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
), cc AS (
  SELECT id, min(comp) AS canonical FROM reach GROUP BY id
)
SELECT id AS doc_id,
       canonical AS canonical_doc_id,
       count(*) OVER (PARTITION BY canonical) AS group_size,
       id <> canonical AS is_duplicate
FROM cc
"""


@register("dedup_keep_canonical", oracle=_KEEP_ORACLE)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs stay lazy: the single-explode symmetrization inside
    # _components_from_pairs reads them once, saving a separate
    # persist+count job.
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("jaccard") >= _JACCARD_T)
        .select("doc_a", "doc_b")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _CC_PARTS)
    try:
        comp = _components_from_pairs(pairs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("canonical_doc_id"),
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("group_size"),
        (F.col("id") != F.col("component")).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# dedup_minhash_quality_audit — "measure, don't guess" applied to the
# sketch itself: for every banded candidate pair, the MinHash-estimated
# Jaccard (matching signature components / _N_HASHES) against the exact
# shingle Jaccard, bucketed by exact similarity. The output is the
# calibration table you read before trusting the sketch at 100 TB: a
# mean absolute error drifting up in the high-similarity buckets means
# the hash family or band layout needs more rows; a heavy 0.0-0.1 bucket
# means the bands are over-generating candidates and the verify stage is
# carrying the load. Complements dedup_index_stats (bucket occupancy) —
# that audits the *cost* side, this audits the *accuracy* side.
#
# Scale: the same ``_minhash_verified`` pipeline as dedup_minhash_lsh (one
# shingle materialization, banded candidate join, candidate-semi-joined
# verify); the estimate join adds one broadcast-amenable signature lookup
# per pair side. Output is O(10) rows.
# ---------------------------------------------------------------------------


def _sql_mh_match_count() -> str:
    return " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_N_HASHES)
    )


_MH_AUDIT_ORACLE = f"""
WITH {_SQL_SHINGLES_CTE},
{_SQL_CAND_CTES}, {_sql_verify_cte("sha", "shb")}, scored AS (
  SELECT v.doc_a, v.doc_b,
         round(v.shared * 1.0 / (sza.sz + szb.sz - v.shared), 6) AS exact_j,
         ({_sql_mh_match_count()}) * 1.0 / {_N_HASHES} AS est_j
  FROM ver v
  JOIN sizes sza ON sza.doc_id = v.doc_a
  JOIN sizes szb ON szb.doc_id = v.doc_b
  JOIN sigs sa ON sa.doc_id = v.doc_a
  JOIN sigs sb ON sb.doc_id = v.doc_b
)
SELECT cast(least(floor(exact_j * 10), 9) as int) AS bucket,
       count(*) AS n_pairs,
       {sql_davg('est_j', 'est_mean')},
       {sql_davg('exact_j', 'exact_mean')},
       {sql_davg('abs(est_j - exact_j)', 'abs_err_mean')}
FROM scored
GROUP BY 1
"""


@register("dedup_minhash_quality_audit", oracle=_MH_AUDIT_ORACLE)
def dedup_minhash_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs, verified = _minhash_verified(spark, sf_dir)
    side = {
        s: sigs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(f"mh{i}").alias(f"{s}{i}") for i in range(_N_HASHES)],
        )
        for s in "ab"
    }
    match_n = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )
    scored = (
        verified.join(side["a"], "doc_a")
        .join(side["b"], "doc_b")
        .select(
            jaccard().alias("exact_j"),
            (match_n * F.lit(1.0) / F.lit(_N_HASHES)).alias("est_j"),
        )
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("exact_j") * 10), F.lit(9)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            davg(F.col("est_j")).alias("est_mean"),
            davg(F.col("exact_j")).alias("exact_mean"),
            davg(F.abs(F.col("est_j") - F.col("exact_j"))).alias("abs_err_mean"),
        )
    )
