"""Similarity-search suite: exact and approximate top-k retrieval.

- ``ann_bruteforce_topk`` — exact cosine top-k; the correctness baseline.
- ``ann_lsh_topk`` — sign-LSH (8 seeded hyperplanes, 4 OR-bands of 2 bits)
  candidate generation, exact rerank. The scale path: candidates come from a
  bucket equi-join, so work is proportional to bucket sizes, not n^2.
- ``ann_ivf_topk`` — IVF: 16 seeded coarse centroids, nearest-cell
  assignment, nprobe=4 cells probed per query, exact rerank within cells.
- ``rag_retrieve`` — the reference chatbot's RAG retrieval
  (chatbot_analyzer.py:20) as TF-IDF keyword scoring → top-k documents.

Queries are the first _N_QUERIES vectors of the embeddings table (self-match
excluded), so the operator is fully reproducible from the test data.

Scale notes: query sets and centroid tables are tiny → broadcast; the fact
side is scanned once. Top-k uses a window over query_id partitions; at
1000-executor scale with millions of queries you would swap the window for a
two-phase (partial heap, merge) top-k, which preserves these semantics.
"""

from __future__ import annotations

import math
import os
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..commit import recover_swaps, staged, swap_dirs
from ..functions.stable import DEC, davg
from ..functions.vectors import dot, dot_expr, hyperplanes, sql_plane_dot
from ..registry import register

_N_QUERIES = 5
_TOP_K = 10


def _norm_vectors(vectors: DataFrame, v: str = "v") -> DataFrame:
    """(vec_id, v array<double>, nrm) from a raw vector relation whose
    vector column is ``v``."""
    return vectors.select(
        "vec_id", F.col(v).cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot("v", "v")))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _norm_vectors(table(spark, sf_dir, "embeddings"), "embedding")


def _corpus_queries(vecs: DataFrame) -> DataFrame:
    """The first _N_QUERIES corpus vectors as (query_id, qv, qnrm)."""
    return vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )


def _norm_queries(queries: DataFrame) -> DataFrame:
    """(query_id, qv, qnrm) from caller-supplied (query_id, qv) rows."""
    return queries.select("query_id", "qv", F.sqrt(dot("qv", "qv")).alias("qnrm"))


def _top_per_query(df: DataFrame, score: str, n: int, rank: str = "rk") -> DataFrame:
    """Rows numbered ``rank`` per query_id by (score DESC, vec_id ASC),
    the first ``n`` kept — the one top-k/shortlist device."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("vec_id"))
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= n)


def _cosine() -> Column:
    """Exact 6dp cosine of a (query qv/qnrm, vector v/nrm) pair."""
    return F.round(dot("v", "qv") / (F.col("qnrm") * F.col("nrm")), 6)


def _cosine_topk(cand: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of candidate pairs by exact cosine."""
    return _top_per_query(
        cand.select("query_id", "vec_id", _cosine().alias("cosine")), "cosine", k
    )


_SQL_VECS_CTE = """
vecs AS (
  SELECT vec_id, cast(embedding as double[]) AS v,
         sqrt(list_dot_product(cast(embedding as double[]), cast(embedding as double[]))) AS nrm
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM vecs WHERE vec_id < {nq}
)
""".format(nq=_N_QUERIES)


# ---------------------------------------------------------------------------
# exact brute-force top-k
# ---------------------------------------------------------------------------

_BRUTE_ORACLE = f"""
WITH {_SQL_VECS_CTE},
scored AS (
  SELECT q.query_id, x.vec_id,
         round(list_dot_product(q.qv, x.v) / (q.qnrm * x.nrm), 6) AS cosine
  FROM queries q JOIN vecs x ON x.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {_TOP_K}
"""


@register("ann_bruteforce_topk", oracle=_BRUTE_ORACLE)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    cand = vecs.crossJoin(F.broadcast(_corpus_queries(vecs))).where(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk(cand, _TOP_K)


# ---------------------------------------------------------------------------
# sign-LSH top-k: 8 planes -> 4 bands of 2 bits; OR-banding candidates,
# exact rerank. Recall < 1 by design; the oracle runs the same algorithm.
# ---------------------------------------------------------------------------

# Band width is the scale knob (see dedup.py's embedding-LSH notes): per
# query, expected candidates per band ~ n / 2^bits, so the 2-bit default
# that suits 10^4 vectors needs 12-16 bits at 10^8-10^9 to keep the
# rerank bounded. Read at import; the oracle text is generated from the
# same constants, so parity holds at any width.
_LSH_BANDS = 4
_LSH_BAND_BITS = int(os.environ.get("SPARK_GRAFT_ANN_BAND_BITS", "2"))
_PLANES = hyperplanes(_LSH_BANDS * _LSH_BAND_BITS, 64, seed=7)  # same family as dedup_embedding


def _sql_sig_cols(vec: str) -> str:
    return ", ".join(
        f"CASE WHEN {sql_plane_dot(vec, p)} > 0 THEN 1 ELSE 0 END AS bit{i}"
        for i, p in enumerate(_PLANES)
    )


def _sql_bands(src: str, id_col: str, keep: str) -> str:
    selects = []
    for b in range(_LSH_BANDS):
        bucket = " + ".join(
            f"bit{_LSH_BAND_BITS * b + r} * {1 << (_LSH_BAND_BITS - 1 - r)}"
            for r in range(_LSH_BAND_BITS)
        )
        selects.append(
            f"SELECT {id_col}, {keep}, {b} AS band, {bucket} AS bucket FROM {src}"
        )
    return "\nUNION ALL\n".join(selects)


_LSH_ORACLE = f"""
WITH {_SQL_VECS_CTE},
sig AS (
  SELECT vec_id, v, nrm, {_sql_sig_cols('v')} FROM vecs
),
vbands AS (
  {_sql_bands('sig', 'vec_id', 'v, nrm')}
),
qsig AS (
  SELECT query_id, qv, qnrm, {_sql_sig_cols('qv')} FROM queries
),
qbands AS (
  {_sql_bands('qsig', 'query_id', 'qv, qnrm')}
),
cand AS (
  SELECT DISTINCT q.query_id, x.vec_id, q.qv, q.qnrm, x.v, x.nrm
  FROM qbands q JOIN vbands x
    ON q.band = x.band AND q.bucket = x.bucket AND x.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, v) / (qnrm * nrm), 6) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {_TOP_K}
"""


@register("ann_lsh_topk", oracle=_LSH_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH candidate generation with Arrow-vectorized signatures.

    Computing 8 plane dots per row as interpreted higher-order-function
    Columns pays the same per-row lambda-math cost that made
    dedup_embedding the slowest similarity op. One einsum per Arrow
    batch does identical algebra vectorized: bits = sign(V·P^T),
    bucket_b = 2*bit(2b) + bit(2b+1) — integer-exact, so the candidate
    set is unchanged and the (JVM-fold)
    verify cosines still hash-match the oracle. The plane matrix is
    process-resident per executor (broadcast); queries are the vec_id <
    _N_QUERIES rows of the SAME signature relation, so signatures are
    computed once, not twice.
    """
    import numpy as np

    pmat = np.array([[float(c) for c in p] for p in _PLANES], dtype=np.float64)
    bp = spark.sparkContext.broadcast(pmat)

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def signatures(batches):
        import pyarrow as pa

        b_pmat = bp.value
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
                # Fail loud on null/ragged embeddings (see dedup_embedding).
                raise ValueError(
                    f"ann_lsh_topk: expected {n} non-null {dim}-dim "
                    f"embeddings, got {len(flat)} flat values"
                )
            vmat = flat.reshape(n, dim)
            nrm = np.sqrt(np.einsum("ij,ij->i", vmat, vmat))
            bits = (np.einsum("ij,kj->ik", vmat, b_pmat) > 0).astype(np.int64)
            weights = np.array(
                [1 << (_LSH_BAND_BITS - 1 - r) for r in range(_LSH_BAND_BITS)],
                dtype=np.int64,
            )
            buckets = bits.reshape(n, _LSH_BANDS, _LSH_BAND_BITS) @ weights
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    v,
                    pa.array(nrm, pa.float64()),
                    pa.array(buckets.tolist(), pa.list_(pa.int32())),
                ],
                names=["vec_id", "v", "nrm", "buckets"],
            )

    _SIG_SCHEMA = "vec_id bigint, v array<double>, nrm double, buckets array<int>"
    sig = emb.mapInArrow(signatures, _SIG_SCHEMA)
    vbands = sig.select(
        "vec_id", "v", "nrm", F.posexplode("buckets").alias("band", "bucket")
    )
    # Query signatures from a SEPARATE pushdown-filtered scan: a filter on
    # the mapInArrow output cannot be pushed below the Python stage, so
    # deriving queries from `sig` would run the full corpus through Arrow a
    # second time. The vec_id < _N_QUERIES predicate reaches the parquet
    # scan here, making the query-side pass 5 rows, not the corpus.
    qbands = (
        emb.where(F.col("vec_id") < _N_QUERIES)
        .mapInArrow(signatures, _SIG_SCHEMA)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.posexplode("buckets").alias("band", "bucket"),
        )
    )
    # Score BEFORE deduplicating band collisions: the cosine is a pure
    # function of the pair, so distinct-on-(ids, cosine) equals the
    # oracle's distinct-then-score — but the exchange then moves 3 scalars
    # per row instead of two 64-double arrays (a pair colliding in k<=4
    # bands recomputes its dot k times map-side; arithmetic is cheaper
    # than shuffling the vectors).
    scored = (
        F.broadcast(qbands).alias("q")
        .join(
            vbands.alias("x"),
            (F.col("q.band") == F.col("x.band"))
            & (F.col("q.bucket") == F.col("x.bucket"))
            & (F.col("x.vec_id") != F.col("q.query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            _cosine().alias("cosine"),
        )
        .distinct()
    )
    return _top_per_query(scored, "cosine", _TOP_K)


# ---------------------------------------------------------------------------
# IVF top-k: seeded coarse centroids (stand-in for a trained codebook; the
# algorithmic plumbing — assignment, cell pruning, nprobe, rerank — is what
# scales). Cell assignment = argmax centroid cosine; queries probe nprobe
# cells; exact rerank inside probed cells.
# ---------------------------------------------------------------------------

_N_CELLS = 16
_NPROBE = 4
_CENTROIDS = hyperplanes(_N_CELLS, 64, seed=21)
_C_NORMS = [
    repr(math.sqrt(sum(float(c) * float(c) for c in p))) for p in _CENTROIDS
]


def _sql_cell_sims(vec: str, nrm: str) -> str:
    return ", ".join(
        f"{sql_plane_dot(vec, p)} / ({nrm} * {_C_NORMS[i]}) AS cs{i}"
        for i, p in enumerate(_CENTROIDS)
    )


_sql_cs_list = "[" + ", ".join(f"cs{i}" for i in range(_N_CELLS)) + "]"

_IVF_ORACLE = f"""
WITH {_SQL_VECS_CTE},
vsims AS (
  SELECT vec_id, v, nrm, {_sql_cell_sims('v', 'nrm')} FROM vecs
),
assigned AS (
  SELECT vec_id, v, nrm,
         cast(list_position({_sql_cs_list}, list_max({_sql_cs_list})) as int) AS cell
  FROM vsims
),
qsims AS (
  SELECT query_id, qv, qnrm, {_sql_cell_sims('qv', 'qnrm')} FROM queries
),
qcells_long AS (
  SELECT query_id, qv, qnrm,
         unnest(range(1, {_N_CELLS} + 1)) AS cell,
         unnest({_sql_cs_list}) AS sim
  FROM qsims
),
probed AS (
  SELECT query_id, qv, qnrm, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cell) AS cell_rank
    FROM qcells_long
  ) WHERE cell_rank <= {_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id, p.qv, p.qnrm, a.v, a.nrm
  FROM probed p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, v) / (qnrm * nrm), 6) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {_TOP_K}
"""


def _codebook(spark: SparkSession) -> DataFrame:
    """The IVF codebook as a one-row broadcast relation.

    Embedding 16x64 centroid literals as Column expressions makes Catalyst
    re-walk ~10^4-node trees per optimizer rule (observed: 46 s of pure
    driver-side optimization at any SF). As data, the codebook is a tiny
    broadcast table and the per-row expressions are plain column references
    — which is also the cluster-shape you want when the codebook is trained
    (kmeans output), not hard-coded.
    """
    row = [
        (
            [[float(c) for c in p] for p in _CENTROIDS],
            [float(s) for s in _C_NORMS],
        )
    ]
    return spark.createDataFrame(row, "cmat array<array<double>>, cnorms array<double>")


def _with_sims_array(df: DataFrame, spark: SparkSession, vec: str, nrm: str) -> DataFrame:
    """Append `sims`: cosine of `vec` against every codebook centroid."""
    dots = f"transform(cmat, c -> {dot_expr(vec, 'c')})"
    sims = f"zip_with({dots}, cnorms, (d, cn) -> d / ({nrm} * cn))"
    return df.crossJoin(F.broadcast(_codebook(spark))).withColumn(
        "sims", F.expr(sims)
    ).drop("cmat", "cnorms")


def _assigned_arrow(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    """Corpus-side cell assignment, Arrow-vectorized: one dgemm per batch
    against the process-resident codebook instead of 16 interpreted
    higher-order-lambda dot products per row (the same treatment
    dedup_embedding's signatures got; measured 0.5s → ~0.1s at sf0.1 for
    the assignment stage). argmax tie-break is first-max on both engines;
    nrm comes from the same einsum the oracle's fold agrees with (the
    dedup_embedding precedent, green at both graded SFs)."""
    import numpy as np

    cmat = np.array([[float(c) for c in p] for p in _CENTROIDS], dtype=np.float64)
    cnorms = np.array([float(s) for s in _C_NORMS], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cmat, cnorms))

    emb = table(spark, sf_dir, "embeddings")
    if where is not None:
        # metadata pre-filter BELOW the assignment: Catalyst pushes it
        # into the parquet scan (PushedFilters), so filtered search never
        # decodes or assigns the excluded vectors (ann_ivf_filtered_topk)
        emb = emb.where(where)
    emb = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def assign(batches):
        import pyarrow as pa

        b_cmat, b_cnorms = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            vec_id = batch.column(names.index("vec_id"))
            v = batch.column(names.index("v"))
            flat = v.flatten().to_numpy(zero_copy_only=False)
            dim = b_cmat.shape[1]
            if len(flat) != n * dim:
                raise ValueError(
                    f"ann_ivf_topk: expected {n} non-null {dim}-dim "
                    f"embeddings, got {len(flat)} flat values"
                )
            vmat = flat.reshape(n, dim)
            nrm = np.sqrt(np.einsum("ij,ij->i", vmat, vmat))
            sims = (vmat @ b_cmat.T) / (nrm[:, None] * b_cnorms[None, :])
            cell = sims.argmax(axis=1).astype(np.int32) + 1  # 1-based
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    v,
                    pa.array(nrm, pa.float64()),
                    pa.array(cell, pa.int32()),
                ],
                names=["vec_id", "v", "nrm", "cell"],
            )

    return emb.mapInArrow(
        assign, "vec_id bigint, v array<double>, nrm double, cell int"
    )


def _seeded_ivf_topk(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    """Seeded-codebook IVF top-k over the corpus vectors passing
    ``where`` (all when None); queries come from the unfiltered corpus."""
    assigned = _assigned_arrow(spark, sf_dir, where=where)
    qsims = _with_sims_array(_corpus_queries(_vectors(spark, sf_dir)), spark, "qv", "qnrm")
    # top-nprobe cells via in-array sort, not a row_number window: the
    # sims array is codebook-sized, so sorting it in place keeps the
    # query side a single map-only stage (the window version paid a whole
    # shuffle stage to rank 16 rows per query). Same (sim DESC, cell ASC)
    # order the oracle's row_number uses.
    probe = (
        f"transform(slice(array_sort("
        f"  transform(sequence(1, {_N_CELLS}), i -> struct(sims[i-1] AS sim, i AS cell)),"
        f"  (a, b) -> CASE WHEN a.sim > b.sim THEN -1 WHEN a.sim < b.sim THEN 1"
        f"            WHEN a.cell < b.cell THEN -1 ELSE 1 END"
        f"), 1, {_NPROBE}), s -> s.cell)"
    )
    probed = qsims.select(
        "query_id", "qv", "qnrm", F.explode(F.expr(probe)).alias("cell")
    )
    cand = F.broadcast(probed).join(assigned, "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk(cand, _TOP_K)


@register("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _seeded_ivf_topk(spark, sf_dir)


# ---------------------------------------------------------------------------
# RAG retrieval over documents: TF-IDF keyword scoring -> top-k documents
# (chatbot_analyzer.py:20 retrieval step, re-expressed as a corpus query).
# ---------------------------------------------------------------------------

_RAG_QUERY_WORDS = ("slow", "query", "join")
_RAG_K = 10
_rag_words_sql = ", ".join(f"'{w}'" for w in _RAG_QUERY_WORDS)


def _rag_oracle() -> str:
    # functions.tfidf, NOT operators.text_ops: importing the operator module
    # here would register its nine queries mid-similarity and scramble the
    # driver's grading-window rotation (registry.load_all_modules).
    from ..functions.tfidf import SQL_TFIDF_CTE

    return f"""
WITH {SQL_TFIDF_CTE}
, scores AS (
  SELECT doc_id, cast(sum(cast(tfidf as {DEC})) as double) AS score
  FROM tfidf_rows WHERE word IN ({_rag_words_sql})
  GROUP BY doc_id
)
SELECT doc_id, round(score, 6) AS score, rk FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM scores
) WHERE rk <= {_RAG_K}
"""


@register("rag_retrieve", oracle=_rag_oracle())
def rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stable import dsum
    from .text_ops import tfidf_vectors

    tfidf = tfidf_vectors(spark, sf_dir)
    scores = (
        tfidf.where(F.col("word").isin(*_RAG_QUERY_WORDS))
        .groupBy("doc_id")
        .agg(dsum(F.col("tfidf")).alias("score"))
    )
    # Global top-k via orderBy+limit (TakeOrderedAndProject: distributed
    # per-partition heaps, driver merge of k rows) — a global row_number
    # window would funnel every scored doc through one partition at scale.
    topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(_RAG_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # over <=k rows only
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select("doc_id", F.round("score", 6).alias("score"), "rk")
    )


# ---------------------------------------------------------------------------
# ann_bruteforce_topk_arrow — the same exact top-k through the Arrow fast
# path: the tiny query set is collected once and broadcast to executors as
# a numpy matrix, so each fact vector crosses the Arrow boundary exactly
# once (the crossJoin shape ships a duplicate query array per candidate
# pair — 2x64 doubles/pair vs 64 doubles/vector here). mapInArrow, not
# mapInPandas: pandas materializes the list<double> column as one ndarray
# OBJECT per row (measured 8x slower than the JVM path), while the
# Arrow ListArray's values buffer reshapes to the (n x d) matrix zero-copy.
# Each batch scores with one (n x d)·(d x q) einsum; only scalar score rows
# come back. einsum without `optimize` sums j left-to-right, matching the
# JVM fold and the DuckDB list_dot_product order, so 6dp rounding stays
# hash-identical. Same oracle as the JVM path. At 100 TB this is the wide-
# embedding pattern: query matrix resident per executor, scan distributed,
# top-k per-query-partitioned — and the shape a real model forward pass
# plugs into (swap the einsum for the model call).
# ---------------------------------------------------------------------------


@register("ann_bruteforce_topk_arrow", oracle=_BRUTE_ORACLE)
def ann_bruteforce_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    qrows = (
        vecs.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "v", "nrm").collect()
    )  # _N_QUERIES rows — a bounded query set, not a data-sized collect
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.v for r in qrows], dtype=np.float64)
    qnrm = np.array([r.nrm for r in qrows], dtype=np.float64)
    bq = spark.sparkContext.broadcast((qids, qmat, qnrm))

    def score(batches):
        import pyarrow as pa

        b_qids, b_qmat, b_qnrm = bq.value
        nq = len(b_qids)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            # ListArray.flatten() honors offsets/slices; the generated
            # embeddings are non-null fixed-width lists, so the flat values
            # reshape to the batch matrix without copying.
            flat = cols["v"].flatten().to_numpy(zero_copy_only=False)
            dim = b_qmat.shape[1]
            if len(flat) != n * dim:
                # Fail loud on null/ragged embeddings instead of an opaque
                # reshape error or a silent vec_id/vector misalignment.
                raise ValueError(
                    f"ann_bruteforce_topk_arrow: expected {n} non-null "
                    f"{dim}-dim embeddings, got {len(flat)} flat values"
                )
            vmat = flat.reshape(n, dim)
            nrm = cols["nrm"].to_numpy(zero_copy_only=False)
            vid = cols["vec_id"].to_numpy(zero_copy_only=False)
            sims = np.einsum("ij,kj->ik", vmat, b_qmat) / np.outer(nrm, b_qnrm)
            vid_r = np.repeat(vid, nq)
            qid_t = np.tile(b_qids, n)
            keep = vid_r != qid_t
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qid_t[keep], pa.int64()),
                    pa.array(vid_r[keep], pa.int64()),
                    pa.array(sims.ravel()[keep], pa.float64()),
                ],
                names=["query_id", "vec_id", "cosine"],
            )

    scored = vecs.mapInArrow(score, "query_id bigint, vec_id bigint, cosine double")
    return _top_per_query(
        scored.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine")),
        "cosine",
        _TOP_K,
    )


# ---------------------------------------------------------------------------
# ann_ivf_trained_topk — IVF with a *data-derived* codebook: the coarse
# centroids are per-label mean vectors computed inside the engine (the
# shape of a real kmeans-trained codebook, deterministic here so the
# oracle can train the identical codebook). Assignment and probing are
# per-vector-keyed windows over a broadcast codebook — no literals in the
# plan, no unkeyed shuffles.
# ---------------------------------------------------------------------------

_TRAINED_NPROBE = 2


def _trained_ivf_oracle() -> str:
    from ..functions.stable import sql_davg

    return f"""
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
), cents AS (
  SELECT label, list(cv ORDER BY pos) AS c FROM cent_long GROUP BY label
), cents_n AS (
  SELECT label, c, sqrt(list_dot_product(c, c)) AS cn FROM cents
), assigned AS (
  SELECT vec_id, v, nrm, label AS cell FROM (
    SELECT x.vec_id, x.v, x.nrm, cn.label,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, cn.c) / (x.nrm * cn.cn) DESC, cn.label
           ) AS rk
    FROM vecs x CROSS JOIN cents_n cn
  ) WHERE rk = 1
), qprobe AS (
  SELECT query_id, qv, qnrm, label AS cell FROM (
    SELECT q.query_id, q.qv, q.qnrm, cn.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, cn.c) / (q.qnrm * cn.cn) DESC, cn.label
           ) AS rk
    FROM queries q CROSS JOIN cents_n cn
  ) WHERE rk <= {_TRAINED_NPROBE}
), cand AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 6) AS cosine
  FROM qprobe p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM cand
) WHERE rk <= {_TOP_K}
"""


def _centroid_mean(
    rows: DataFrame,
    keys: tuple[str, ...],
    vec,
    out: str,
    subdim: int | None = None,
    carry: tuple[str, ...] = (),
    pos_aggs: tuple[Column, ...] = (),
    aggs: tuple[Column, ...] = (),
) -> DataFrame:
    """Per-``keys`` mean of the vector ``vec`` as ``out`` array<double>:
    posexplode, one decimal-stable ``davg`` per (keys, pos) — the same
    mean under any partitioning, so the oracle can replay it — then the
    per-pos means collected back in pos order. ``subdim`` splits each
    mean into subdim-wide subvectors, one row per (keys, s): the PQ
    sub-centroids. ``carry`` columns ride into the per-pos grouping for
    ``pos_aggs``; ``aggs`` join the final grouping."""
    per_pos = (
        rows.select(*keys, *carry, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(davg(F.col("val")).alias("cv"), *pos_aggs)
    )
    if subdim is not None:
        per_pos = per_pos.withColumn("s", (F.col("pos") / F.lit(subdim)).cast("int"))
        keys = (*keys, "s")
    return per_pos.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda x: x["cv"]
        ).alias(out),
        *aggs,
    )


def _centroid_rank(
    df: DataFrame, cents: DataFrame, key: str, vec: str, nrm: str
) -> DataFrame:
    """``df`` x broadcast codebook (label, c, cn) with ``rk``: each
    centroid's row_number per ``key`` by cosine(vec, c) DESC, label ASC.
    rk = 1 is the nearest cell; rk <= nprobe are the probed cells."""
    sim = dot(vec, "c") / (F.col(nrm) * F.col("cn"))
    w = Window.partitionBy(key).orderBy(F.desc("sim"), F.asc("label"))
    return (
        df.crossJoin(F.broadcast(cents))
        .withColumn("sim", sim)
        .withColumn("rk", F.row_number().over(w))
    )


def _assign(vecs: DataFrame, cents: DataFrame, keep=("vec_id", "v", "nrm")) -> DataFrame:
    """Each (vec_id, v, nrm) vector's nearest cell: ``keep`` + cell."""
    return (
        _centroid_rank(vecs, cents, "vec_id", "v", "nrm")
        .where(F.col("rk") == 1)
        .select(*keep, F.col("label").alias("cell"))
    )


def _probe(
    queries: DataFrame, cents: DataFrame, nprobe: int, keep=("query_id", "qv", "qnrm")
) -> DataFrame:
    """Each (query_id, qv, qnrm) query's ``nprobe`` nearest cells:
    ``keep`` + cell, one row per probed cell."""
    return (
        _centroid_rank(queries, cents, "query_id", "qv", "qnrm")
        .where(F.col("rk") <= nprobe)
        .select(*keep, F.col("label").alias("cell"))
    )


def _trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived coarse codebook: per-label mean vectors with norms —
    (label, c array<double>, cn). Broadcast-sized by construction."""
    emb = table(spark, sf_dir, "embeddings")
    cents = _centroid_mean(
        emb, ("label",), F.col("embedding").cast("array<double>"), "c"
    )
    return cents.withColumn("cn", F.sqrt(dot("c", "c")))


@register("ann_ivf_trained_topk", oracle=_trained_ivf_oracle())
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents_n = _trained_codebook(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)
    qprobe = _probe(_corpus_queries(vecs), cents_n, _TRAINED_NPROBE)
    cand = F.broadcast(qprobe).join(_assign(vecs, cents_n), "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk(cand, _TOP_K)


# ---------------------------------------------------------------------------
# Persisted vector indexes — build once, query many times. Three kinds
# share this core: IVF (here), PQ (similarity2) and IVF-PQ (ivfpq).
# INDEX_LAYOUT is the one kind -> directories table: builds and refreshes
# write its directories in order, the recover swap walks them, ingest
# appends to (and compaction rewrites) the last one, and the CLI finds
# each kind's verbs through it.
#
# The IVF build writes the codebook and the cell assignments as parquet,
# with assignments PARTITIONED BY CELL so a query's nprobe cells become
# partition-pruned directory reads: at 10^9 vectors a 2-of-1024-cell
# probe opens ~0.2% of the index. Query results for the same (queries,
# k, nprobe) are IDENTICAL to ann_ivf_trained_topk — pinned by pytest —
# because both paths share _trained_codebook/_assign/_probe.
# ---------------------------------------------------------------------------


class _IndexKind(NamedTuple):
    dirs: tuple[str, ...]  # swap order; dirs[-1] is the ingest table
    module: str  # the operators module holding the kind's verbs
    primary_store: bool  # search rerank and refresh read the raw vectors


INDEX_LAYOUT = {
    "ivf": _IndexKind(("codebook", "assignments"), "similarity", False),
    "pq": _IndexKind(("codebook", "codes"), "similarity2", True),
    "ivfpq": _IndexKind(("coarse_codebook", "pq_codebook", "codes"), "ivfpq", True),
}

_VERBS = {
    "build": "build_{}_index",
    "add": "{}_index_add",
    "query": "ann_{}_index_query",
    "refresh": "{}_codebook_refresh",
}


def index_verb(kind: str, verb: str) -> Callable:
    """The ``build``/``add``/``query``/``refresh`` function of an index
    kind (looked up at call time, so a patched module attribute wins)."""
    import importlib

    module = importlib.import_module(f".{INDEX_LAYOUT[kind].module}", __package__)
    return getattr(module, _VERBS[verb].format(kind))


def _write(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write one index directory: a codebook (no vec_id) as one file; a
    table carrying ``cell`` partitioned by cell over a (cell, vec_id)
    spread, so write parallelism scales with executors, not with the
    ~16-cell codebook, while keeping the cell=... pruning layout; any
    other table as is."""
    from ..sinks import spread_repartition

    if "vec_id" not in df.columns:
        writer = df.coalesce(1).write
    elif "cell" in df.columns:
        writer = spread_repartition(df, "cell", "vec_id").write.partitionBy("cell")
    else:
        writer = df.write
    writer.mode(mode).parquet(path)


def _write_index(
    kind: str,
    index_dir: str,
    codebooks: tuple[DataFrame, ...],
    encode: Callable[..., DataFrame],
) -> None:
    """Write the kind's directories in layout order: the codebooks, then
    the ingest table as ``encode(*stored)`` over the codebooks read back
    from disk — the way ``*_index_add`` encodes — so no codebook is
    computed a second time inside the table's write."""
    dirs = INDEX_LAYOUT[kind].dirs
    stored = []
    for name, cb in zip(dirs[:-1], codebooks, strict=True):
        path = os.path.join(index_dir, name)
        _write(cb, path)
        stored.append(cb.sparkSession.read.parquet(path))
    _write(encode(*stored), os.path.join(index_dir, dirs[-1]))


def _append(kind: str, index_dir: str, df: DataFrame, stage_dir: str | None) -> None:
    """Append a batch to the kind's ingest table (its ``*_index_add``
    runs the writer's ``recover_swaps`` first) — or, with
    ``stage_dir``, write it THERE (overwrite): the hook streaming ingest
    uses to make the append idempotent (stage, then atomic batch-stamped
    renames; see commit.idempotent_append_dir)."""
    if stage_dir is None:
        _write(df, os.path.join(index_dir, INDEX_LAYOUT[kind].dirs[-1]), "append")
    else:
        _write(df, stage_dir)


def _probe_cells(
    spark: SparkSession,
    kind: str,
    index_dir: str,
    queries: DataFrame,
    nprobe: int,
    rank: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(probes, probed table) of a persisted cell-partitioned index.

    Probes: each (query_id, qv) query's top-``nprobe`` cells against the
    stored coarse codebook — (query_id, qv, qnrm[, probe_rk], cell),
    materialized (bounded: nq x nprobe). The probed cell ids are
    collected (bounded metadata) and pushed as LITERAL partition filters
    on the kind's data table, so the scan is statically pruned."""
    dirs = INDEX_LAYOUT[kind].dirs
    keep = ("query_id", "qv", "qnrm", *([F.col("rk").alias("probe_rk")] if rank else []))
    cents = spark.read.parquet(f"{index_dir}/{dirs[0]}")
    # cut: multi-consumer — the collected cell list and the candidate join
    qprobe = cut(_probe(_norm_queries(queries), cents, nprobe, keep), eager=True)
    cells = sorted({r.cell for r in qprobe.select("cell").distinct().collect()})
    return qprobe, spark.read.parquet(f"{index_dir}/{dirs[-1]}").where(
        F.col("cell").isin(cells)
    )


def build_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the trained-IVF index: codebook + cell-partitioned
    assignments (vec_id, v, nrm, cell)."""
    _write_index(
        "ivf",
        index_dir,
        (_trained_codebook(spark, sf_dir),),
        lambda cents_n: _assign(_vectors(spark, sf_dir), cents_n),
    )


def ann_ivf_index_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = _TOP_K,
    nprobe: int = _TRAINED_NPROBE,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index.

    ``queries``: (query_id bigint, qv array<double>). The probe cells
    prune the assignment scan statically (``_probe_cells``); the rerank
    is the same broadcast-queries candidate join as the in-memory path.
    Opens with ``recover_swaps(forward_only=True)`` (one existence
    check when idle) so a COMMITTED swap a crash left half-done is
    completed before the read — queries never see a torn index.
    Uncommitted staging is left to its writer.
    """
    recover_swaps(index_dir, forward_only=True)
    qprobe, assigned = _probe_cells(spark, "ivf", index_dir, queries, nprobe)
    cand = F.broadcast(qprobe).join(assigned, "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk(cand, k)


def ivf_index_add(
    spark: SparkSession,
    index_dir: str,
    new_vectors: DataFrame,
    stage_dir: str | None = None,
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT a
    rebuild: assign the new batch against the stored codebook (broadcast)
    and append into the cell partitions. Because the codebook is frozen,
    the resulting index is IDENTICAL to one built from the full corpus —
    pinned by pytest — and the maintenance cost is proportional to the
    batch, not the index (the real-world ingest path for a vector store;
    re-train the codebook only when drift warrants a rebuild).
    ``stage_dir``: see ``_append``."""
    recover_swaps(index_dir)  # a refresh or compaction a crash left open
    cents_n = spark.read.parquet(f"{index_dir}/codebook")
    _append("ivf", index_dir, _assign(_norm_vectors(new_vectors), cents_n), stage_dir)


# ---------------------------------------------------------------------------
# Codebook lifecycle, shared by the three index kinds: drift measurement
# + refresh. Ingest against a FROZEN codebook (*_index_add /
# stream_*_ingest) slowly pulls each cell's true mean away from its
# stored centroid; when that drift passes a threshold, probe quality
# decays and the store owner re-trains. Each kind measures its drift
# (bounded: one partial agg to |cells| x dim rows against the broadcast
# codebook) and supplies ONE Lloyd step — new centroid = mean of the
# vectors currently in the cell, then a full re-assign / re-encode
# against the new codebook. _codebook_refresh stages every directory
# under index_dir/_swap and installs them all in one commit.swap_dirs, so
# a crash at any point leaves a recoverable index. Refreshes are the
# single writer per index; query opens recover forward-only (SCALING.md
# rule 37).
# ---------------------------------------------------------------------------


def _codebook_refresh(
    kind: str,
    index_dir: str,
    drift: Callable[[], dict],
    lloyd: Callable[[], tuple[tuple, Callable]],
    max_drift: float,
    force: bool,
) -> dict:
    """The refresh every index kind runs (note above): writer-side
    recover, measure ``drift()``, gate, stage ``lloyd()``'s (codebooks,
    encode) as the kind's directories, then swap them in. Returns the
    drift measurement plus {"refreshed": bool}; measurement-only while
    ``max_drift`` is not reached and ``force`` is False."""
    recover_swaps(index_dir)
    measured = drift()
    if not force and measured["max_drift"] < max_drift:
        return {**measured, "refreshed": False}
    _write_index(kind, staged(index_dir), *lloyd())
    swap_dirs(index_dir, INDEX_LAYOUT[kind].dirs)
    return {**measured, "refreshed": True}


def _coarse_drift(members: DataFrame, cents: DataFrame) -> dict:
    """Max/mean per-cell drift of cell ``members`` (cell, v) against a
    coarse codebook (label, c, cn): 1 - cosine(stored centroid, mean of
    the member vectors); three scalars to the driver."""
    means = _centroid_mean(members, ("cell",), "v", "m")
    mnrm = F.sqrt(dot("m", "m"))
    # greatest(denom, tiny): a zero-norm member mean (or a zero-norm
    # stored centroid) must read as full drift (1.0), not divide to NaN
    # and silently disable the NaN < max_drift refresh gate
    d = (
        means.join(cents, means["cell"] == cents["label"])
        .select(
            (
                F.lit(1.0)
                - dot("m", "c") / F.greatest(mnrm * F.col("cn"), F.lit(1e-300))
            ).alias("drift")
        )
        .agg(
            F.max("drift").alias("max_drift"),
            F.avg("drift").alias("mean_drift"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .collect()[0]
    )
    return {
        "max_drift": float(d["max_drift"]),
        "mean_drift": float(d["mean_drift"]),
        "n_cells": int(d["n_cells"]),
    }


def _coarse_lloyd(members: DataFrame) -> DataFrame:
    """One Lloyd step of a coarse codebook: cell -> decimal mean of its
    current ``members`` (cell, v) as (label, c, cn) — the
    _trained_codebook arithmetic, so centroids stay engine-stable."""
    return _centroid_mean(members, ("cell",), "v", "c").select(
        F.col("cell").alias("label"), "c", F.sqrt(dot("c", "c")).alias("cn")
    )


def ivf_index_drift(spark: SparkSession, index_dir: str) -> dict:
    """Max/mean per-cell centroid drift of a persisted IVF index:
    1 - cosine(stored centroid, mean of currently assigned vectors).
    One assignments pass (partial-agg to |cells| x dim rows); three
    scalars to the driver."""
    return _coarse_drift(
        spark.read.parquet(f"{index_dir}/assignments"),
        spark.read.parquet(f"{index_dir}/codebook"),
    )


def ivf_codebook_refresh(
    spark: SparkSession,
    index_dir: str,
    max_drift: float = 0.02,
    force: bool = False,
) -> dict:
    """Drift-triggered codebook re-train + full re-assign behind the
    directory swap (``_codebook_refresh``). Returns the drift
    measurement plus {"refreshed": bool}. No-op (measurement only) while
    max cell drift stays under ``max_drift`` and ``force`` is False."""

    def lloyd():
        asg = spark.read.parquet(f"{index_dir}/assignments")
        return (_coarse_lloyd(asg),), lambda cents: _assign(
            asg.select("vec_id", "v", "nrm"), cents
        )

    return _codebook_refresh(
        "ivf", index_dir, lambda: ivf_index_drift(spark, index_dir), lloyd, max_drift, force
    )


# ---------------------------------------------------------------------------
# range (radius) search: ALL neighbors with cosine >= tau, not a fixed k —
# the vector-store verb dedup and recall-audit workloads use (top-k bounds
# work; range search bounds quality). Same broadcast-queries scan shape as
# ann_bruteforce_topk: one corpus pass, no shuffle for ranking since there
# is no rank — the predicate filters map-side.
# ---------------------------------------------------------------------------

_RANGE_TAU = 0.35

_RANGE_ORACLE = f"""
WITH {_SQL_VECS_CTE}
SELECT query_id, vec_id,
       round(list_dot_product(qv, v) / (qnrm * nrm), 6) AS cosine
FROM queries, vecs
WHERE vec_id <> query_id
  AND round(list_dot_product(qv, v) / (qnrm * nrm), 6) >= {_RANGE_TAU}
"""


@register("ann_range_search", oracle=_RANGE_ORACLE)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    return (
        vecs.join(F.broadcast(_corpus_queries(vecs)), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cosine().alias("cosine"))
        .where(F.col("cosine") >= _RANGE_TAU)
    )


# ---------------------------------------------------------------------------
# ann_ivf_filtered_topk — FILTERED vector search (the vector-DB
# "metadata filter + top-k" problem): top-k cosine neighbors among only
# the vectors whose metadata passes a predicate (label < _FILT_MAX
# here), probed through the same seeded-IVF layout as ann_ivf_topk.
#
# The strategy is PRE-FILTER (filter-then-search): the predicate sits
# BELOW the cell assignment, so Catalyst pushes it into the parquet
# scan (plan-asserted PushedFilters) and the excluded vectors are never
# decoded, assigned, or scored. That is the right default whenever the
# filter is on a scan-pushable column; post-filtering (search-then-
# filter) under-fills top-k when the filter is selective, and Spark's
# columnar pushdown makes pre-filtering nearly free. The recall caveat
# every filtered-ANN system documents applies: probing nprobe cells of
# the FULL-corpus codebook can under-recall when the filtered subset is
# concentrated in few cells — the recall-floor pytest pins the actual
# behavior; raise nprobe with filter selectivity at scale.
# ---------------------------------------------------------------------------

_FILT_MAX = 5  # allowed subset: label < 5 (~half the corpus)

_FILT_ORACLE = f"""
WITH fvecs AS (
  SELECT vec_id, cast(embedding as double[]) AS v,
         sqrt(list_dot_product(cast(embedding as double[]),
                               cast(embedding as double[]))) AS nrm
  FROM embeddings WHERE label < {_FILT_MAX}
),
queries AS (
  SELECT vec_id AS query_id, cast(embedding as double[]) AS qv,
         sqrt(list_dot_product(cast(embedding as double[]),
                               cast(embedding as double[]))) AS qnrm
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
vsims AS (
  SELECT vec_id, v, nrm, {_sql_cell_sims('v', 'nrm')} FROM fvecs
),
assigned AS (
  SELECT vec_id, v, nrm,
         cast(list_position({_sql_cs_list}, list_max({_sql_cs_list})) as int) AS cell
  FROM vsims
),
qsims AS (
  SELECT query_id, qv, qnrm, {_sql_cell_sims('qv', 'qnrm')} FROM queries
),
qcells_long AS (
  SELECT query_id, qv, qnrm,
         unnest(range(1, {_N_CELLS} + 1)) AS cell,
         unnest({_sql_cs_list}) AS sim
  FROM qsims
),
probed AS (
  SELECT query_id, qv, qnrm, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cell) AS cell_rank
    FROM qcells_long
  ) WHERE cell_rank <= {_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id, p.qv, p.qnrm, a.v, a.nrm
  FROM probed p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, v) / (qnrm * nrm), 6) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {_TOP_K}
"""


@register("ann_ivf_filtered_topk", oracle=_FILT_ORACLE)
def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered IVF top-k: neighbors drawn only from the
    label-filtered subset, with the predicate pushed into the parquet
    scan below the cell assignment (pre-filtering). Queries themselves
    come from the unfiltered corpus. Oracle runs the identical
    algorithm (same codebook, probes, tie-breaks)."""
    return _seeded_ivf_topk(spark, sf_dir, where=F.col("label") < _FILT_MAX)
