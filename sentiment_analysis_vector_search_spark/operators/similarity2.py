"""Similarity-search suite 2: product-quantization (PQ) ANN.

``ann_pq_adc_topk`` — PQ with asymmetric distance computation (ADC), the
memory-side half of the canonical billion-scale ANN recipe (IVF+PQ, Jégou
et al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011):

- the 64-dim embedding space is split into ``_PQ_M`` = 8 subspaces of 8
  dims; each subspace gets its own small codebook;
- every corpus vector is *encoded* as 8 small codes (one per subspace) —
  at real scale this is the compression that lets a 100 TB vector corpus
  sit in executor memory as ~8-64 bytes/vector;
- a query never decodes the corpus: it builds a tiny lookup table
  LUT[s][code] = <query_sub(s), centroid(s, code)> once, and every
  vector's approximate dot product is just 8 table lookups + adds (ADC).

Spark-first layout:
- codebook training is per-(label, subspace) decimal-stable means — the
  same deterministic "trained" codebook device as ``ann_ivf_trained_topk``
  (``similarity._centroid_mean``), so the DuckDB oracle can train the identical
  codebook; a production run swaps in seeded k-means per subspace with
  k=256 without touching the plan shape;
- encode = fact scan x broadcast codebook, argmin via ``min_by`` partial
  aggregation (map-side combine; no window sort over the corpus);
- LUT is queries x codebook — broadcast-sized by construction
  (|Q| x 8 x k rows);
- ADC = encoded corpus x broadcast LUT equi-join on (subspace, code),
  decimal-exact sum of the 8 partials per (query, vector) so the result
  is identical under any partitioning (functions/stable.py), then one
  top-k window per query.

Reference parity: the reference's FAISS-backed search
(Context_analyzer_RoBERTa_fun.py) is exact inner-product over RoBERTa
embeddings; PQ/ADC is the standard scale path that same corpus would use
at 10^9+ vectors. Exactness is pinned separately by the recall-floor
pytest against ``ann_bruteforce_topk``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..commit import recover_swaps
from ..functions.stable import davg, dsum, sql_davg, sql_dsum
from ..functions.vectors import dot
from ..registry import register
from .similarity import (
    _SQL_VECS_CTE,
    _TOP_K,
    _append,
    _centroid_mean,
    _codebook_refresh,
    _corpus_queries,
    _norm_queries,
    _norm_vectors,
    _top_per_query,
    _vectors,
    _write_index,
)

_PQ_M = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (embeddings are 64-dim)
# ADC is a shortlist, not the final ranking (Jégou's "IVFADC+R"): the
# k=|labels| codebook here is far coarser than a production k=256, so the
# compressed-domain scores select _PQ_RERANK candidates per query and the
# final top-k is exact cosine over only those. At 100 TB this is the point
# of the design — the exact pass touches RERANK vectors per query, not the
# corpus.
_PQ_RERANK = 100


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, subspace) sub-centroids: (s, label, sc array<double>,
    sc2 = <sc, sc>). k = |labels| cells per subspace here so the oracle
    can replay training; broadcast-sized by construction."""
    emb = table(spark, sf_dir, "embeddings")
    sub = _centroid_mean(
        emb, ("label",), F.col("embedding").cast("array<double>"), "sc", subdim=_PQ_SUBDIM
    )
    return sub.withColumn("sc2", dot("sc", "sc"))


def _sub_rows(df: DataFrame, vcol: str, keep: list[str]) -> DataFrame:
    """Explode a vector column into _PQ_M (s, sv) subvector rows — a
    map-only generate, no shuffle."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col(vcol), s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
            )
            for s in range(_PQ_M)
        ]
    )
    # explode_outer, not explode: InferFiltersFromGenerate would push a
    # size(subs) > 0 filter below the generate and evaluate the computed
    # slice array twice per row (measured 8x on other computed-array
    # explodes in this repo). The array is never empty, so the outer
    # variant emits identical rows.
    return (
        df.select(*keep, F.explode_outer(subs).alias("sub"))
        .where(F.col("sub").isNotNull())
        .select(*keep, F.col("sub.s").alias("s"), F.col("sub.sv").alias("sv"))
    )


_PQ_ORACLE = f"""
WITH {_SQL_VECS_CTE},
cent_long AS (
  SELECT label, pos, {sql_davg('val', 'cv')}
  FROM (
    SELECT label,
           unnest(cast(embedding as double[])) AS val,
           unnest(range(len(embedding))) AS pos
    FROM embeddings
  )
  GROUP BY label, pos
), subcents AS (
  SELECT label, cast(pos // {_PQ_SUBDIM} as int) AS s, list(cv ORDER BY pos) AS sc
  FROM cent_long GROUP BY label, cast(pos // {_PQ_SUBDIM} as int)
), cb AS (
  SELECT label, s, sc, list_dot_product(sc, sc) AS sc2 FROM subcents
), subs AS (
  SELECT cast(unnest(range({_PQ_M})) as int) AS s
), vsub AS (
  SELECT v.vec_id, v.nrm, u.s, list_slice(v.v, u.s*{_PQ_SUBDIM}+1, u.s*{_PQ_SUBDIM}+{_PQ_SUBDIM}) AS sv
  FROM vecs v CROSS JOIN subs u
), enc AS (
  SELECT vec_id, nrm, s, label AS code FROM (
    SELECT u.vec_id, u.nrm, u.s, c.label,
           row_number() OVER (
             PARTITION BY u.vec_id, u.s
             ORDER BY c.sc2 - 2 * list_dot_product(u.sv, c.sc), c.label
           ) AS rk
    FROM vsub u JOIN cb c ON c.s = u.s
  ) WHERE rk = 1
), qsub AS (
  SELECT q.query_id, q.qnrm, u.s, list_slice(q.qv, u.s*{_PQ_SUBDIM}+1, u.s*{_PQ_SUBDIM}+{_PQ_SUBDIM}) AS qsv
  FROM queries q CROSS JOIN subs u
), lut AS (
  SELECT u.query_id, u.qnrm, u.s, c.label, list_dot_product(u.qsv, c.sc) AS lutv
  FROM qsub u JOIN cb c ON c.s = u.s
), adc AS (
  SELECT l.query_id, e.vec_id, {sql_dsum('l.lutv', 'adc_sum')},
         max(l.qnrm) AS qnrm, max(e.nrm) AS nrm
  FROM enc e
  JOIN lut l ON l.s = e.s AND l.label = e.code AND e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
), shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(adc_sum / (qnrm * nrm), 6) DESC, vec_id
           ) AS rk
    FROM adc
  ) WHERE rk <= {_PQ_RERANK}
), rerank AS (
  SELECT s.query_id, s.vec_id,
         round(list_dot_product(q.qv, x.v) / (q.qnrm * x.nrm), 6) AS cosine
  FROM shortlist s
  JOIN queries q ON q.query_id = s.query_id
  JOIN vecs x ON x.vec_id = s.vec_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id
         ) AS rk
  FROM rerank
) WHERE rk <= {_TOP_K}
"""


def _pq_encode(vecs: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode (vec_id, v, nrm) rows to PQ codes (vec_id, nrm, s, code).

    argmin_{code} ||sv - sc||^2: ||sv||^2 is constant per (vec, s), so
    the comparison key is sc2 - 2<sv, sc> — fewer float ops and the
    identical expression tree in the oracle. min_by keeps the argmin a
    partial-aggregating groupBy (map-side combine), not a window sort
    over the n x M x k candidate relation.
    """
    vsub = _sub_rows(vecs, "v", ["vec_id", "nrm"])
    return (
        vsub.join(F.broadcast(cb), "s")
        .withColumn("dist_key", F.col("sc2") - F.lit(2.0) * dot("sv", "sc"))
        .groupBy("vec_id", "s")
        .agg(
            F.min_by(F.col("label"), F.struct("dist_key", "label")).alias("code"),
            F.max("nrm").alias("nrm"),
        )
    )


def _pq_lut(queries: DataFrame, cb: DataFrame) -> DataFrame:
    """ADC lookup table (query_id, qnrm, s, label, lutv) from
    (query_id, qv, qnrm) rows — |Q| x M x k, broadcast-sized."""
    qsub = _sub_rows(queries, "qv", ["query_id", "qnrm"])
    return qsub.join(F.broadcast(cb), "s").select(
        "query_id", "qnrm", "s", "label", dot("sv", "sc").alias("lutv")
    )


def _adc_scores(
    pairs: DataFrame,
    lut: DataFrame,
    exclude_self: bool = False,
    on: Column | None = None,
    aggs: tuple[Column, ...] = (),
) -> DataFrame:
    """Compressed-domain scoring: M lookups + an order-independent exact
    sum per (query, vector), then the 6dp ``adc_cosine`` a shortlist
    ranks by (``_top_per_query``). ``on`` replaces the flat (s, code)
    join key — the IVF-PQ path also keys on the query's probed cells.

    ``exclude_self`` drops corpus vectors whose vec_id equals the
    query_id. Only valid when the queries ARE corpus vectors sharing the
    id space (ann_pq_adc_topk); for external queries the two id spaces
    are unrelated and a coincidental collision would silently hide a
    legitimate neighbor, so it defaults off.
    """
    cond = on if on is not None else (pairs.s == lut.s) & (pairs.code == lut.label)
    if exclude_self:
        cond = cond & (pairs.vec_id != lut.query_id)
    return (
        pairs.join(F.broadcast(lut), cond)
        .groupBy("query_id", "vec_id")
        .agg(
            dsum(F.col("lutv")).alias("adc_sum"),
            F.max("qnrm").alias("qnrm"),
            F.max("nrm").alias("nrm"),
            *aggs,
        )
        .withColumn(
            "adc_cosine", F.round(F.col("adc_sum") / (F.col("qnrm") * F.col("nrm")), 6)
        )
    )


def _adc_shortlist(
    enc: DataFrame, lut: DataFrame, rerank_n: int, exclude_self: bool = False
) -> DataFrame:
    """(query_id, vec_id) of each query's ``rerank_n`` best flat-PQ ADC
    scores."""
    adc = _adc_scores(enc, lut, exclude_self)
    return _top_per_query(adc, "adc_cosine", rerank_n).select("query_id", "vec_id")


def _exact_rerank(
    shortlist: DataFrame, vecs: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact cosine over the shortlist only: a RERANK-bounded slice of
    the corpus joined back to the original vectors; query side broadcast."""
    rerank = (
        shortlist.join(vecs, "vec_id")
        .join(
            F.broadcast(
                queries.select(
                    "query_id", F.col("qv").alias("qv2"), F.col("qnrm").alias("qnrm2")
                )
            ),
            "query_id",
        )
        .withColumn(
            "cosine",
            F.round(dot("v", "qv2") / (F.col("qnrm2") * F.col("nrm")), 6),
        )
    )
    return _top_per_query(rerank, "cosine", k).select("query_id", "vec_id", "cosine", "rk")


@register("ann_pq_adc_topk", oracle=_PQ_ORACLE)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC shortlist + exact rerank top-k. Returns
    (query_id, vec_id, cosine, rk) with exact cosines."""
    # cut: multi-consumer — the encode and the LUT would each re-run the
    # codebook derivation (posexplode + two aggregations over embeddings)
    cb = cut(_pq_codebook(spark, sf_dir))
    vecs = _vectors(spark, sf_dir)
    enc = _pq_encode(vecs, cb)
    queries = _corpus_queries(vecs)
    lut = _pq_lut(queries, cb)
    # queries are corpus vectors here: self-matches are excluded by id.
    shortlist = _adc_shortlist(enc, lut, _PQ_RERANK, exclude_self=True)
    return _exact_rerank(shortlist, vecs, queries, _TOP_K)


# ---------------------------------------------------------------------------
# Persistent PQ index — the compressed half of a production IVFADC+R
# store. The build writes the codebook and the CODES table (vec_id, nrm,
# s, code); the raw vectors are deliberately NOT copied into the index:
# at 10^9 vectors the codes are the ~8-64 bytes/vector representation
# that fits executor memory, while the exact-rerank pass reads the
# primary vector store only for the RERANK-bounded shortlist. Query
# results for the same (queries, k, rerank) are IDENTICAL to
# ann_pq_adc_topk — pinned by pytest — because both paths share
# _pq_encode/_pq_lut/_adc_shortlist/_exact_rerank. Layout, writes,
# recovery and refresh are the shared index core in similarity.py.
# ---------------------------------------------------------------------------


def build_pq_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the PQ index: codebook + codes (no raw vectors)."""
    _write_index(
        "pq",
        index_dir,
        (_pq_codebook(spark, sf_dir),),
        lambda cb: _pq_encode(_vectors(spark, sf_dir), cb),
    )


def ann_pq_index_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = _TOP_K,
    rerank_n: int = _PQ_RERANK,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k search against a persisted PQ index.

    ``queries``: (query_id bigint, qv array<double>); ``vectors`` is the
    PRIMARY vector store (vec_id, v array<double>) read only for the
    shortlist rerank — the compressed-domain scan touches codes alone.

    ``exclude_self`` (default OFF): set True ONLY when the query ids
    live in the corpus vec_id space (e.g. querying the index with its
    own vectors) — for external queries, an id that coincidentally
    equals a vec_id must NOT hide that corpus vector.

    Opens with ``recover_swaps(forward_only=True)`` like the IVF query
    (``ann_ivf_index_query``).
    """
    recover_swaps(index_dir, forward_only=True)
    cb = spark.read.parquet(f"{index_dir}/codebook")
    enc = spark.read.parquet(f"{index_dir}/codes")
    q = _norm_queries(queries)
    shortlist = _adc_shortlist(enc, _pq_lut(q, cb), rerank_n, exclude_self=exclude_self)
    return _exact_rerank(shortlist, _norm_vectors(vectors), q, k)


def pq_index_add(
    spark: SparkSession,
    index_dir: str,
    new_vectors: DataFrame,
    stage_dir: str | None = None,
) -> None:
    """Incrementally encode a batch against the FROZEN codebook and
    append its codes — cost proportional to the batch, not the index,
    and the result is identical to a full rebuild (pinned by pytest).
    Re-train the codebook only when drift warrants a rebuild.
    ``stage_dir``: see ``similarity._append``."""
    recover_swaps(index_dir)  # a refresh or compaction a crash left open
    cb = spark.read.parquet(f"{index_dir}/codebook")
    _append("pq", index_dir, _pq_encode(_norm_vectors(new_vectors), cb), stage_dir)


# ---------------------------------------------------------------------------
# PQ codebook lifecycle — the PQ side of the shared refresh
# (similarity._codebook_refresh): incremental ingest encodes against
# FROZEN per-subspace codebooks, so a drifting corpus slowly inflates the
# ADC quantization error; when the drift signal passes a threshold, the
# store owner re-trains (one Lloyd step over the current assignment)
# and — because the codes themselves are quantizations, not assignments
# — re-ENCODEs the whole corpus against the new codebook. Both
# directories (codebook, codes) commit in one ``commit.swap_dirs``
# (SCALING.md rule 37).
#
# The drift metric is twofold, one bounded pass over the index:
#   - per-(subspace, code) centroid drift: 1 - cosine(stored
#     sub-centroid, decimal mean of the subvectors currently encoded to
#     it) — the refresh gate, mirroring ivf_index_drift;
#   - per-subspace mean ADC residual E||sv - sc||^2 (the quantization
#     error a query's ADC scores actually absorb), computed from the
#     SAME grouped pass via E||sv-sc||^2 = E<sv,sv> - 2<E sv, sc> + sc2.
# Reading the residual needs the raw subvectors, which the index
# deliberately does not store — both drift and refresh take the PRIMARY
# vector store (the same relation ann_pq_index_query's rerank reads).
# ---------------------------------------------------------------------------


def _pq_cell_stats(codes: DataFrame, vectors: DataFrame) -> DataFrame:
    """Per-(s, code) stats of the CURRENT encoding against the primary
    store: member-mean subvector ``m``, member count ``n_mem`` and mean
    subvector energy ``msv2`` — one codes-sized join + one partial agg
    to |subspaces| x |codes| x subdim rows. Each (vec, s) row explodes
    to exactly _PQ_SUBDIM pos rows, so per-(s, code, pos) means of the
    row-constant sv2 equal the per-cell mean."""
    vsub = _sub_rows(vectors.select("vec_id", "v"), "v", ["vec_id"])
    rows = (
        codes.select("vec_id", "s", "code")
        .join(vsub, ["vec_id", "s"])
        .withColumn("sv2", dot("sv", "sv"))
    )
    return _centroid_mean(
        rows,
        ("s", "code"),
        "sv",
        "m",
        carry=("sv2",),
        pos_aggs=(davg(F.col("sv2")).alias("msv2"), F.count(F.lit(1)).alias("n_mem")),
        aggs=(F.max("msv2").alias("msv2"), F.max("n_mem").alias("n_mem")),
    )


def _pq_drift(cb: DataFrame, codes: DataFrame, vecs: DataFrame) -> dict:
    """PQ drift of ``codes`` encoded against codebook ``cb``, measured on
    the normalised primary store ``vecs`` (module note): per-cell
    sub-centroid drift (the gate) + per-subspace mean ADC residual. A
    handful of scalars to the driver."""
    stats = _pq_cell_stats(codes, vecs)
    mnrm = F.sqrt(dot("m", "m"))
    # cut: multi-consumer — the two tiny aggregates below
    cells = cut(
        stats.join(
            F.broadcast(cb), (stats["s"] == cb["s"]) & (stats["code"] == cb["label"])
        )
        .select(
            stats["s"].alias("sub"),
            "n_mem",
            # zero-norm member mean or stored centroid reads as full
            # drift, never NaN (same guard as the coarse drift)
            (
                F.lit(1.0)
                - dot("m", "sc")
                / F.greatest(mnrm * F.sqrt(F.col("sc2")), F.lit(1e-300))
            ).alias("drift"),
            (
                F.col("msv2") - F.lit(2.0) * dot("m", "sc") + F.col("sc2")
            ).alias("residual"),
        ),
        eager=True,
    )
    d = cells.agg(
        F.max("drift").alias("max_drift"),
        F.avg("drift").alias("mean_drift"),
        F.count(F.lit(1)).alias("n_cells"),
    ).collect()[0]
    sub = (
        cells.groupBy("sub")
        .agg(
            (
                F.sum(F.col("residual") * F.col("n_mem")) / F.sum("n_mem")
            ).alias("sub_residual")
        )
        .agg(
            F.max("sub_residual").alias("max_sub"),
            F.avg("sub_residual").alias("mean_sub"),
        )
        .collect()[0]
    )
    return {
        "max_drift": float(d["max_drift"]),
        "mean_drift": float(d["mean_drift"]),
        "n_cells": int(d["n_cells"]),
        "max_subspace_residual": float(sub["max_sub"]),
        "mean_adc_residual": float(sub["mean_sub"]),
    }


def _pq_lloyd(codes: DataFrame, vecs: DataFrame) -> DataFrame:
    """One Lloyd step of the PQ codebook: new sub-centroid = member-mean
    subvector of the CURRENT encoding (the same decimal-stable
    arithmetic as training)."""
    return (
        _pq_cell_stats(codes, vecs)
        .select(F.col("code").alias("label"), "s", F.col("m").alias("sc"))
        .withColumn("sc2", dot("sc", "sc"))
    )


def pq_index_drift(
    spark: SparkSession, index_dir: str, vectors: DataFrame
) -> dict:
    """Drift of a persisted PQ index vs the primary store (module note):
    per-cell sub-centroid drift (the gate) + per-subspace mean ADC
    residual. A handful of scalars to the driver."""
    return _pq_drift(
        spark.read.parquet(f"{index_dir}/codebook"),
        spark.read.parquet(f"{index_dir}/codes"),
        _norm_vectors(vectors),
    )


def pq_codebook_refresh(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    max_drift: float = 0.02,
    force: bool = False,
) -> dict:
    """Drift-triggered per-subspace codebook re-train + full re-ENCODE
    of the primary store, behind the marker-file swap (module note).
    Returns the drift measurement plus {"refreshed": bool}; no-op
    (measurement only) while max cell drift stays under ``max_drift``
    and ``force`` is False. Single-writer: at most one refresh at a
    time per index."""

    def lloyd():
        vecs = _norm_vectors(vectors)
        cb_new = _pq_lloyd(spark.read.parquet(f"{index_dir}/codes"), vecs)
        # full re-ENCODE (codes are quantizations, not assignments —
        # every stored code is stale the moment its sub-centroid moves)
        return (cb_new,), lambda cb: _pq_encode(vecs, cb)

    return _codebook_refresh(
        "pq",
        index_dir,
        lambda: pq_index_drift(spark, index_dir, vectors),
        lloyd,
        max_drift,
        force,
    )


# ---------------------------------------------------------------------------
# PQ refinement-factor audit — the PQ twin of
# dedup_minhash_quality_audit: a calibration table of shortlist size
# (the IVFADC+R refinement factor) against measured recall@k vs brute
# force, on the store's own data. A vector-store owner reads this table
# to pick _PQ_RERANK: too small and the compressed-domain ordering's
# quantization error silently drops true neighbors; too large and the
# exact-rerank pass reads the primary store for candidates ADC already
# ranked correctly. The ADC scoring runs ONCE (ranked to max(rerank_ns));
# each audited size is a rank cut over that one relation, and recall
# aggregates at (rerank_n) grain — bounded unions over a checkpointed
# shortlist, no recomputation per point on the curve.
# ---------------------------------------------------------------------------


def pq_refinement_audit(
    spark: SparkSession,
    sf_dir: str,
    rerank_ns: tuple[int, ...] = (10, 25, 50, 100),
    k: int = _TOP_K,
) -> DataFrame:
    """(rerank_n, n_queries, k, hits, recall) — recall@k of the PQ
    shortlist+exact-rerank pipeline vs brute-force cosine, one row per
    audited shortlist size (module note)."""
    from .similarity import ann_bruteforce_topk

    cb = _pq_codebook(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)
    queries = _corpus_queries(vecs)
    adc = _adc_scores(_pq_encode(vecs, cb), _pq_lut(queries, cb), exclude_self=True)
    # cut: multi-consumer — one shortlist per rerank depth
    ranked = cut(
        _top_per_query(adc, "adc_cosine", max(rerank_ns), "srk").select(
            "query_id", "vec_id", "srk"
        ),
        eager=True,
    )
    # cut: multi-consumer — every rerank depth's recall join
    brute = cut(
        ann_bruteforce_topk(spark, sf_dir)
        .select("query_id", "vec_id"),
        eager=True,
    )
    n_queries = queries.count()
    denom = float(n_queries * k)
    curves = []
    for n in sorted(rerank_ns):
        shortlist = ranked.where(F.col("srk") <= n).drop("srk")
        got = _exact_rerank(shortlist, vecs, queries, k).select(
            "query_id", "vec_id"
        )
        hits = got.join(brute, ["query_id", "vec_id"]).count()
        curves.append((n, n_queries, k, hits, hits / denom))
    return spark.createDataFrame(
        curves, "rerank_n int, n_queries bigint, k int, hits bigint, recall double"
    )
