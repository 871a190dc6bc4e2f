"""Sketch-backed analytics as graded queries.

``q_events_kmv_distinct`` runs the K-Minimum-Values cardinality sketch
(Bar-Yossef et al.; the mergeable estimator behind stats.column_kmv's
incremental ANALYZE) as a first-class query, next to the exact answer:
per event type, the KMV estimate of distinct users, the exact distinct
count, and the relative error — the sketch-calibration audit a table
owner runs before trusting sketch-backed planning stats.

Unlike approx_count_distinct (HLL++, whose binary registers are not
reproducible across engines), KMV over the md5 hash family is fully
DETERMINISTIC: the k smallest hash values of a set are a pure function
of the set, so the DuckDB oracle reproduces the estimate bit-for-bit —
a sketch you can hash-verify, merge across partitions (keep the k
smallest of the union), and re-derive after any repartition.

Scale shape: one distinct-shuffle at (event_type, user_id) grain, then
a two-phase salted bottom-K so no window ever sees a data-sized
partition (the emb_outlier_scores device); the estimate arithmetic is
per-group over k rows. The exact count rides the same distinct
relation — at 100 TB you would DROP the exact column (it is the
expensive part; the sketch is the cheap one) — kept here because the
calibration audit is the point of the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import cut, table
from ..functions.hashing import md5_long, sql_md5_long
from ..registry import register

_KMV_K = 64
_H_SPACE = float(1 << 60)  # md5_long is 60 bits: u = h / 2^60 in [0, 1)
_KMV_SALTS = 8

_KMV_ORACLE = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, user_id,
         {sql_md5_long("'kmv:' || cast(user_id as varchar)")} / {_H_SPACE} AS u
  FROM events
), ranked AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u, user_id) AS rk
  FROM hashed
), sk AS (
  SELECT event_type, count(*) AS n_seen, max(u) AS kth
  FROM ranked WHERE rk <= {_KMV_K} GROUP BY event_type
), ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct FROM events
  GROUP BY event_type
)
SELECT ex.event_type, ex.exact_distinct,
       CASE WHEN sk.n_seen < {_KMV_K} THEN cast(sk.n_seen as bigint)
            ELSE cast(floor(({_KMV_K} - 1) / sk.kth) as bigint) END AS kmv_estimate,
       round(abs(CASE WHEN sk.n_seen < {_KMV_K} THEN cast(sk.n_seen as double)
                      ELSE floor(({_KMV_K} - 1) / sk.kth) END
                 - ex.exact_distinct) / ex.exact_distinct, 6) AS rel_error
FROM ex JOIN sk ON ex.event_type = sk.event_type
"""


@register("q_events_kmv_distinct", oracle=_KMV_ORACLE)
def q_events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KMV distinct-user estimate vs the exact count.

    Both engines hash identically (md5 → 60-bit → [0,1) by one exact
    division), select the identical k-minimum set, and compute the
    identical estimate floor((k-1)/u_(k)) — deterministic end to end."""
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = ev.distinct().select(
        "event_type",
        "user_id",
        (
            md5_long(F.concat(F.lit("kmv:"), F.col("user_id").cast("string")))
            / F.lit(_H_SPACE)
        ).alias("u"),
    )
    # two-phase bottom-K: per-(type, salt) candidates, then the final
    # rank over |salts| x K rows per type
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.col("user_id"), F.lit(_KMV_SALTS))
    ).orderBy(F.asc("u"), F.asc("user_id"))
    cand = hashed.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= _KMV_K
    )
    w2 = Window.partitionBy("event_type").orderBy(F.asc("u"), F.asc("user_id"))
    sk = (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("u").alias("kth"))
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_seen") < _KMV_K, F.col("n_seen").cast("double")
    ).otherwise(F.floor(F.lit(float(_KMV_K - 1)) / F.col("kth")).cast("double"))
    return ex.join(sk, "event_type").select(
        "event_type",
        "exact_distinct",
        est.cast("bigint").alias("kmv_estimate"),
        F.round(
            F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q_value_quantile_sketch — uniform bottom-k-hash sample quantiles vs the
# exact answer: the KMV device pointed at QUANTILES. A deterministic
# uniform sample of each group is the k rows with the smallest md5(event
# id) — a pure function of the row set (identical across engines,
# partitionings, and retries; mergeable: the bottom-k of a union is the
# bottom-k of the parts' bottom-k's) — and sample quantiles converge at
# O(1/sqrt(k)). Unlike percentile_approx (whose KLL-ish sketch is not
# reproducible across engines), this sample quantile hash-verifies.
#
# Scale shape: the sample selection is the KMV two-phase salted bottom-K
# (no data-sized window); exact percentiles ride a percentile() aggregate
# per group. The exact columns are the expensive leg — at 100 TB keep the
# sketch, drop the exact (they are here because calibration is the point).
# ---------------------------------------------------------------------------

_QS_K = 256
_QS_SALTS = 8

_QS_ORACLE = f"""
WITH hashed AS (
  SELECT event_type, value,
         {sql_md5_long("'qs:' || cast(event_id as varchar)")} AS h, event_id
  FROM events
), ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rk
  FROM hashed
), samp AS (
  SELECT event_type,
         count(*) AS n_sample,
         round(cast(quantile_cont(value, 0.5) as double), 6) AS approx_p50,
         round(cast(quantile_cont(value, 0.95) as double), 6) AS approx_p95
  FROM ranked WHERE rk <= {_QS_K} GROUP BY event_type
), ex AS (
  SELECT event_type, count(*) AS n_rows,
         round(cast(quantile_cont(value, 0.5) as double), 6) AS exact_p50,
         round(cast(quantile_cont(value, 0.95) as double), 6) AS exact_p95
  FROM events GROUP BY event_type
)
SELECT ex.event_type, ex.n_rows, samp.n_sample,
       ex.exact_p50, samp.approx_p50,
       round(abs(samp.approx_p50 - ex.exact_p50), 6) AS err_p50,
       ex.exact_p95, samp.approx_p95,
       round(abs(samp.approx_p95 - ex.exact_p95), 6) AS err_p95
FROM ex JOIN samp ON ex.event_type = samp.event_type
"""


@register("q_value_quantile_sketch", oracle=_QS_ORACLE)
def q_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample quantiles from a deterministic bottom-k-hash row sample vs
    exact percentiles, per event type — the quantile-calibration audit.
    Sample selection is the two-phase salted bottom-K; both engines pick
    the identical sample and interpolate identically."""
    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    hashed = ev.withColumn(
        "h", md5_long(F.concat(F.lit("qs:"), F.col("event_id").cast("string")))
    )
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(_QS_SALTS))
    ).orderBy(F.asc("h"), F.asc("event_id"))
    cand = hashed.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= _QS_K
    )
    w2 = Window.partitionBy("event_type").orderBy(F.asc("h"), F.asc("event_id"))
    samp = (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _QS_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("approx_p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("approx_p95"),
        )
    )
    ex = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("exact_p95"),
    )
    return ex.join(samp, "event_type").select(
        "event_type",
        "n_rows",
        "n_sample",
        "exact_p50",
        "approx_p50",
        F.round(F.abs(F.col("approx_p50") - F.col("exact_p50")), 6).alias(
            "err_p50"
        ),
        "exact_p95",
        "approx_p95",
        F.round(F.abs(F.col("approx_p95") - F.col("exact_p95")), 6).alias(
            "err_p95"
        ),
    )


# ---------------------------------------------------------------------------
# q_events_cms_freq — Count-Min frequency sketch with an exact audit,
# completing the mergeable-sketch family (KMV ndv, Misra-Gries heavy
# hitters, bottom-k row sample): CMS answers "how often did key k
# occur" from d x w counters built in ONE map-side-combinable pass.
# The sketch is deterministic (one md5-derived hash per depth),
# mergeable (counters add), and every estimate upper-bounds the truth —
# cms_n >= exact_n always, overcount bounded by ~N/w per depth with
# exponentially small tail over d depths (Cormode-Muthukrishnan '05).
#
# Scale shape: the sketch relation is d x w = 2,048 rows regardless of
# input size (the explode is map-side, the groupBy partial-combines to
# <= d x w rows per task); the exact leg (top-10 TakeOrdered + counts)
# is the AUDIT — at 100 TB you keep the sketch and drop the exact
# column, the same honesty note as q_events_kmv_distinct.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 512
_CMS_TOP = 10

_CMS_ORACLE = f"""
WITH depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS d(i)),
cms AS (
  SELECT d.i,
         {sql_md5_long("'cms' || cast(d.i as varchar) || ':' || cast(e.user_id as varchar)")} % {_CMS_W} AS bucket,
         count(*) AS n
  FROM events e CROSS JOIN depths d
  GROUP BY 1, 2
), ex AS (
  SELECT user_id, count(*) AS exact_n FROM events
  GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT {_CMS_TOP}
), est AS (
  SELECT ex.user_id, ex.exact_n, min(c.n) AS cms_n
  FROM ex CROSS JOIN depths d
  JOIN cms c ON c.i = d.i
   AND c.bucket = {sql_md5_long("'cms' || cast(d.i as varchar) || ':' || cast(ex.user_id as varchar)")} % {_CMS_W}
  GROUP BY 1, 2
)
SELECT user_id, exact_n, cms_n, cms_n - exact_n AS overcount
FROM est
"""


@register("q_events_cms_freq", oracle=_CMS_ORACLE)
def q_events_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimates for the exact top-10 users, with the
    point-query overcount audited next to the truth.

    Engine plan: the d-way explode is map-side (no pre-shuffle blowup
    reaches the exchange — partial aggregation reduces each task's
    output to <= d x w counter rows), the sketch lands as a 2,048-row
    relation, and the 10 audit keys probe it through a broadcast join.
    Both engines hash md5 -> 60-bit -> mod w on non-negative values, so
    bucket ids are identical and the hash-check is exact."""
    ev = table(spark, sf_dir, "events").select("user_id")
    depths = F.array(*[F.lit(i) for i in range(_CMS_D)])
    keyed = ev.select(
        "user_id", F.explode(depths).alias("i")
    ).select(
        "i",
        F.pmod(
            md5_long(
                F.concat(
                    F.lit("cms"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            ),
            F.lit(_CMS_W),
        ).alias("bucket"),
    )
    cms = keyed.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("n"))
    ex = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(_CMS_TOP)
    )
    probes = ex.select(
        "user_id", "exact_n", F.explode(depths).alias("i")
    ).select(
        "user_id",
        "exact_n",
        "i",
        F.pmod(
            md5_long(
                F.concat(
                    F.lit("cms"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            ),
            F.lit(_CMS_W),
        ).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").alias("cms_n"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# q_events_kmv_setops — KMV SET ALGEBRA (Beyer et al., SIGMOD'07 "On
# Synopses for Distinct-Value Estimation Under Multiset Operations"):
# union / intersection / difference cardinality estimates from two KMV
# sketches, next to the exact answers. q_events_kmv_distinct showed the
# single-set estimator; this is why the sketch family matters at 100 TB:
# the UNION sketch is just the bottom-k of the two sketches' union (no
# re-scan), the intersection rides the match fraction rho = |L ∩ S_A ∩
# S_B| / k' over the union's k-minimum set L, and A−B is inclusion-
# exclusion on estimates — all computed from 2·k retained hashes, never
# from the data. Deterministic end to end (md5 hash family), so the
# DuckDB oracle reproduces every estimate bit-for-bit.
#
# Element grain: ACTIVITY DAYS (user_id, epoch-day) — per-type user sets
# are saturated in the test data (every type reaches every user), while
# day-grain activity sets overlap partially, which is what set algebra
# is for. Scale shape: one distinct at (tag, user, day) grain, then the
# two-phase salted bottom-K per tag (no data-sized window); everything
# after operates on <= 2k retained rows. The exact legs are the audit —
# at 100 TB keep the sketches, drop the exact columns.
# ---------------------------------------------------------------------------

_SO_K = 64
_SO_SALTS = 8
_SO_A = "purchase"
_SO_B = "click"

_SETOPS_ORACLE = f"""
WITH elems AS (
  SELECT DISTINCT event_type AS tag, user_id,
         date_diff('day', DATE '1970-01-01',
                   cast(date_trunc('day', ts) as date)) AS dayno
  FROM events WHERE event_type IN ('{_SO_A}', '{_SO_B}')
), hashed AS (
  SELECT tag, user_id, dayno,
         {sql_md5_long(
             "'kmvs:' || cast(user_id as varchar) || ':' || cast(dayno as varchar)"
         )} / {_H_SPACE} AS u
  FROM elems
), ranked AS (
  SELECT tag, user_id, dayno, u,
         row_number() OVER (PARTITION BY tag ORDER BY u, user_id, dayno) AS rk
  FROM hashed
), sk AS (
  SELECT tag, user_id, dayno, u FROM ranked WHERE rk <= {_SO_K}
), per AS (
  SELECT tag,
         CASE WHEN count(*) < {_SO_K} THEN cast(count(*) as double)
              ELSE floor(({_SO_K} - 1) / max(u)) END AS est
  FROM sk GROUP BY tag
), comb AS (
  SELECT user_id, dayno, u,
         max(CASE WHEN tag = '{_SO_A}' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN tag = '{_SO_B}' THEN 1 ELSE 0 END) AS in_b
  FROM sk GROUP BY user_id, dayno, u
), cranked AS (
  SELECT in_a, in_b, u,
         row_number() OVER (ORDER BY u, user_id, dayno) AS crk,
         count(*) OVER () AS n_comb
  FROM comb
), usk AS (
  SELECT count(*) AS kprime, max(u) AS kth_u,
         sum(in_a * in_b) AS n_both, max(n_comb) AS n_comb
  FROM cranked WHERE crk <= {_SO_K}
), uest AS (
  SELECT kprime, n_both,
         CASE WHEN n_comb < {_SO_K} THEN cast(n_comb as double)
              ELSE floor(({_SO_K} - 1) / kth_u) END AS union_d
  FROM usk
), iest AS (
  SELECT union_d,
         (cast(n_both as double) / cast(kprime as double)) * union_d AS int_d
  FROM uest
), ea AS (
  SELECT count(*) AS c FROM elems WHERE tag = '{_SO_A}'
), eb AS (
  SELECT count(*) AS c FROM elems WHERE tag = '{_SO_B}'
), ei AS (
  SELECT count(*) AS c FROM (
    SELECT user_id, dayno FROM elems WHERE tag = '{_SO_A}'
    INTERSECT
    SELECT user_id, dayno FROM elems WHERE tag = '{_SO_B}'
  )
), pa AS (SELECT est FROM per WHERE tag = '{_SO_A}'),
pb AS (SELECT est FROM per WHERE tag = '{_SO_B}')
SELECT
  ea.c AS exact_a, cast(pa.est as bigint) AS kmv_a,
  eb.c AS exact_b, cast(pb.est as bigint) AS kmv_b,
  ea.c + eb.c - ei.c AS exact_union,
  cast(iest.union_d as bigint) AS kmv_union,
  ei.c AS exact_intersection,
  cast(floor(iest.int_d) as bigint) AS kmv_intersection,
  ea.c - ei.c AS exact_a_minus_b,
  greatest(cast(pa.est as bigint) - cast(floor(iest.int_d) as bigint),
           0) AS kmv_a_minus_b
FROM ea, eb, ei, pa, pb, iest
"""


@register("q_events_kmv_setops", oracle=_SETOPS_ORACLE)
def q_events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV union/intersection/difference estimates over two activity-day
    sets (purchase-days vs click-days), audited against exact counts.

    Both engines retain the identical k-minimum hash sets, so every
    estimate — (k−1)/u_(k) per set, the union of sketches, the match
    fraction rho over the union's k-minimum set, and inclusion-exclusion
    for the difference — is reproduced bit-for-bit."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(_SO_A, _SO_B)
    )
    # cut: multi-consumer — exact a/b counts and the exact intersect
    # (SCALING.md #6)
    elems = cut(
        ev.select(
            F.col("event_type").alias("tag"),
            "user_id",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.to_date(F.lit("1970-01-01")),
            ).alias("dayno"),
        ).distinct()
    )
    hashed = elems.withColumn(
        "u",
        md5_long(
            F.concat(
                F.lit("kmvs:"),
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("dayno").cast("string"),
            )
        )
        / F.lit(_H_SPACE),
    )
    # two-phase salted bottom-K per tag (no data-sized window partition)
    w1 = Window.partitionBy(
        "tag", F.pmod(F.col("user_id"), F.lit(_SO_SALTS))
    ).orderBy(F.asc("u"), F.asc("user_id"), F.asc("dayno"))
    cand = hashed.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= _SO_K
    )
    w2 = Window.partitionBy("tag").orderBy(
        F.asc("u"), F.asc("user_id"), F.asc("dayno")
    )
    # cut: multi-consumer — <= 2k retained rows feed 3 consumers
    sk = cut(
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _SO_K)
        .select("tag", "user_id", "dayno", "u")
    )
    est = F.when(
        F.col("n_seen") < _SO_K, F.col("n_seen").cast("double")
    ).otherwise(F.floor(F.lit(float(_SO_K - 1)) / F.col("kth")).cast("double"))
    per_a = (
        sk.where(F.col("tag") == _SO_A)
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("u").alias("kth"))
        .select(est.alias("est_a"))
    )
    per_b = (
        sk.where(F.col("tag") == _SO_B)
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("u").alias("kth"))
        .select(est.alias("est_b"))
    )
    comb = sk.groupBy("user_id", "dayno", "u").agg(
        F.max(F.when(F.col("tag") == _SO_A, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("tag") == _SO_B, 1).otherwise(0)).alias("in_b"),
    )
    # global window over <= 2k rows — bounded by the sketch size, never
    # by the data (the corpus_zipf_fit bounded-relation rule)
    wc = Window.orderBy(F.asc("u"), F.asc("user_id"), F.asc("dayno"))
    cranked = comb.select(
        "in_a",
        "in_b",
        "u",
        F.row_number().over(wc).alias("crk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_comb"),
    )
    usk = cranked.where(F.col("crk") <= _SO_K).agg(
        F.count(F.lit(1)).alias("kprime"),
        F.max("u").alias("kth_u"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.max("n_comb").alias("n_comb"),
    )
    uest = usk.select(
        "kprime",
        "n_both",
        F.when(F.col("n_comb") < _SO_K, F.col("n_comb").cast("double"))
        .otherwise(F.floor(F.lit(float(_SO_K - 1)) / F.col("kth_u")).cast("double"))
        .alias("union_d"),
    )
    iest = uest.select(
        "union_d",
        (
            (F.col("n_both").cast("double") / F.col("kprime").cast("double"))
            * F.col("union_d")
        ).alias("int_d"),
    )
    a_set = elems.where(F.col("tag") == _SO_A).select("user_id", "dayno")
    b_set = elems.where(F.col("tag") == _SO_B).select("user_id", "dayno")
    ea = a_set.agg(F.count(F.lit(1)).alias("exact_a"))
    eb = b_set.agg(F.count(F.lit(1)).alias("exact_b"))
    ei = a_set.intersect(b_set).agg(F.count(F.lit(1)).alias("exact_i"))
    # all one-row relations: broadcast nested-loop scalar joins
    out = (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(ei))
        .crossJoin(F.broadcast(per_a))
        .crossJoin(F.broadcast(per_b))
        .crossJoin(F.broadcast(iest))
    )
    kmv_i = F.floor(F.col("int_d")).cast("bigint")
    return out.select(
        "exact_a",
        F.col("est_a").cast("bigint").alias("kmv_a"),
        "exact_b",
        F.col("est_b").cast("bigint").alias("kmv_b"),
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_i")).alias(
            "exact_union"
        ),
        F.col("union_d").cast("bigint").alias("kmv_union"),
        F.col("exact_i").alias("exact_intersection"),
        kmv_i.alias("kmv_intersection"),
        (F.col("exact_a") - F.col("exact_i")).alias("exact_a_minus_b"),
        F.greatest(
            F.col("est_a").cast("bigint") - kmv_i, F.lit(0).cast("bigint")
        ).alias("kmv_a_minus_b"),
    )


# ---------------------------------------------------------------------------
# q_value_hist_quantiles — histogram-interpolated quantile estimates
# with the exact audit (r11 verdict #8a, realized as the SQL-expressible
# mergeable quantile summary): a fixed-width bin histogram IS a
# mergeable quantile sketch — bin counts add across shards/batches/
# engines with no merge-order sensitivity (unlike KLL's compaction
# coin-flips; equi-width column_histogram is NOT mergeable either — its
# bucket bounds depend on the observed min/max), and the estimate is
# deterministic integer+IEEE arithmetic. The maintained leg lives in
# stats.column_fixed_histogram and the "hist" entry of stats.SKETCHES
# (folded per batch by stats.fold_sketch), whose
# hist_quantile serves the SAME interpolation from <= bins integers of
# driver metadata. This query runs the estimator as a graded surface
# next to the exact percentile, per event type — the calibration audit
# for q_value_percentiles' documented scale path (swap exact percentile
# for the maintained summary at 100 TB).
#
# Estimator: t = q * n; first bin with cum >= t; within-bin linear
# interpolation est = W*bin + W*(t - cum_before)/cnt. cum/cnt are exact
# bigints and the float ops run in one fixed order, so est is
# bit-identical cross-engine and emitted RAW (no rounding anywhere on
# the estimate — the sample_weighted/psi lesson). The exact columns are
# engine percentile_cont/percentile rounded to 6dp (the
# q_value_quantile_sketch precedent); err subtracts two already-equal
# doubles, so it needs no rounding either.
#
# Scale shape: ONE fact-scan partial aggregate to (type, bin) grain
# (<= |types| x B rows); the cumulative window and quantile selection
# run over that bounded relation (global-window comment: bounded by
# B=64 x |types|). The exact leg is the AUDIT — at 100 TB you keep the
# histogram and drop the exact column.
# ---------------------------------------------------------------------------

_HQ_W = 10  # bin width
_HQ_B = 64  # bins: covers value in [0, 640) with clamp
_HQ_QS = (("p50", "0.5"), ("p90", "0.9"), ("p99", "0.99"))


def _hq_est(tag: str) -> str:
    # first qualifying bin's fields are f_bin/f_cnt/f_cum; t = qv * n
    return (
        f"(cast({_HQ_W} as double) * f_bin_{tag}"
        f" + cast({_HQ_W} as double)"
        f" * ((t_{tag} - cast(f_cum_{tag} - f_cnt_{tag} as double))"
        f" / cast(f_cnt_{tag} as double)))"
    )


_HQ_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         least(greatest(cast(floor(value / {_HQ_W}) as int), 0), {_HQ_B - 1})
           AS bin,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), c AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM b
), sel AS (
  SELECT event_type, max(n) AS n,
         {", ".join(
             f"min(CASE WHEN cast(cum as double) >= {qv} * cast(n as double)"
             f" THEN bin END) AS b_{tag}" for tag, qv in _HQ_QS)}
  FROM c GROUP BY event_type
), f AS (
  SELECT s.event_type, s.n,
         {", ".join(
             f"{qv} * cast(s.n as double) AS t_{tag}, "
             f"c{i}.bin AS f_bin_{tag}, cast(c{i}.cnt as bigint) AS f_cnt_{tag},"
             f" cast(c{i}.cum as bigint) AS f_cum_{tag}"
             for i, (tag, qv) in enumerate(_HQ_QS))}
  FROM sel s
  {" ".join(
      f"JOIN c c{i} ON c{i}.event_type = s.event_type AND c{i}.bin = s.b_{tag}"
      for i, (tag, _qv) in enumerate(_HQ_QS))}
), ex AS (
  SELECT event_type,
         {", ".join(
             f"round(cast(quantile_cont(value, {qv}) as double), 6)"
             f" AS exact_{tag}" for tag, qv in _HQ_QS)}
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT f.event_type, cast(f.n as bigint) AS n_rows,
       {", ".join(
           f"{_hq_est(tag)} AS est_{tag}, ex.exact_{tag},"
           f" abs({_hq_est(tag)} - ex.exact_{tag}) AS err_{tag}"
           for tag, _qv in _HQ_QS)}
FROM f JOIN ex ON ex.event_type = f.event_type
"""


@register("q_value_hist_quantiles", oracle=_HQ_ORACLE)
def q_value_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-interpolated p50/p90/p99 per event type next to the
    exact percentiles — the mergeable-summary calibration audit (see
    module note; estimates raw, exact legs 6dp by precedent)."""
    # value IS NOT NULL in BOTH legs (r12 advice, low): a NULL value
    # would otherwise bin to NULL, and the cumulative window's ORDER BY
    # bin places NULLs first in Spark but last in DuckDB (shifting cum)
    # while inflating n against the NULL-ignoring exact percentiles —
    # parity-safe on arbitrary data, value-identical on the generated
    # (NULL-free) tables.
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        .where(F.col("value").isNotNull())
    )
    b = ev.groupBy(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value") / _HQ_W).cast("int"), F.lit(0)),
            F.lit(_HQ_B - 1),
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # windows over the (type, bin) relation: bounded by |types| x 64 rows
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("event_type")
    # cut: multi-consumer — sel + the fetch joins
    c = cut(b.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn("n", F.sum("cnt").over(w_n)))
    sel_aggs = [
        F.min(
            F.when(
                F.col("cum").cast("double")
                >= F.expr(qv) * F.col("n").cast("double"),
                F.col("bin"),
            )
        ).alias(f"b_{tag}")
        for tag, qv in _HQ_QS
    ]
    sel = c.groupBy("event_type").agg(F.max("n").alias("n"), *sel_aggs)
    f = sel
    for i, (tag, qv) in enumerate(_HQ_QS):
        ci = c.select(
            F.col("event_type").alias(f"_et{i}"),
            F.col("bin").alias(f"f_bin_{tag}"),
            F.col("cnt").cast("bigint").alias(f"f_cnt_{tag}"),
            F.col("cum").cast("bigint").alias(f"f_cum_{tag}"),
        )
        f = f.join(
            F.broadcast(ci),
            (F.col(f"_et{i}") == F.col("event_type"))
            & (F.col(f"f_bin_{tag}") == F.col(f"b_{tag}")),
        ).withColumn(f"t_{tag}", F.expr(qv) * F.col("n").cast("double"))
    ex = ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {qv}D)"), 6).alias(f"exact_{tag}")
            for tag, qv in _HQ_QS
        ]
    )
    cols = [F.col("event_type"), F.col("n").cast("bigint").alias("n_rows")]
    for tag, _qv in _HQ_QS:
        est = F.expr(_hq_est(tag))
        cols += [
            est.alias(f"est_{tag}"),
            F.col(f"exact_{tag}"),
            F.abs(est - F.col(f"exact_{tag}")).alias(f"err_{tag}"),
        ]
    return f.join(F.broadcast(ex), "event_type").select(*cols)


# ---------------------------------------------------------------------------
# q_doclen_hist_by_source — GROUPED fixed-width histogram quantiles with
# STATS-DERIVED knobs (r13; r12 verdict #4 + #7a in one graded surface):
# per-source p50/p90 of documents.n_chars estimated from a (source, bin)
# histogram whose width/offset are derived from the table's min/max by
# the same nice-grid snap as stats.hist_knobs_for — next to the exact
# percentiles as the calibration audit (the q_value_hist_quantiles
# pattern at group grain over a DERIVED support).
#
# Knob parity without a transcendental (rule 31 applied to knobs): both
# engines derive width = min nice-grid value >= (max-min)/(bins-1) and
# offset = floor(min/width)*width from EXACT integer min/max through
# correctly-rounded double ops and comparisons against the same literal
# grid (stats.HIST_NICE_WIDTHS reprs embedded in the SQL), so the knobs
# — and therefore every bin id, count and interpolated estimate — are
# bit-identical by construction. The Spark side reads min/max from the
# memoized table_stats ANALYZE (the maintained-stats route the knobs are
# FOR); the oracle computes the same min/max inline. Estimates emit RAW
# (rule 33); exact legs are percentile/quantile_cont rounded 6dp (the
# corpus_data_card precedent).
#
# Scale shape: ONE fact-scan partial aggregate to (source, bin) grain
# (<= |sources| x 64 rows); windows/selection run over that bounded
# relation (global-window comment: bounded by 64 x |sources|). At 100 TB
# the same counts come from the MAINTAINED grouped artifact
# (the "ghist" sketch + stats.served_group_quantiles) with no
# rescan — pytest pins the served values equal to this query's
# estimates on identical knobs.
# ---------------------------------------------------------------------------

_DH_BINS = 64
_DH_QS = (("p50", "0.5"), ("p90", "0.9"))


def _dh_grid_sql() -> str:
    from ..stats import HIST_NICE_WIDTHS

    return ", ".join(f"({w!r})" for w in HIST_NICE_WIDTHS)


def _dh_est(tag: str) -> str:
    # "offset" is reserved in DuckDB: the oracle carries it as off_
    return (
        f"(off_ + width * f_bin_{tag}"
        f" + width * ((t_{tag} - cast(f_cum_{tag} - f_cnt_{tag} as double))"
        f" / cast(f_cnt_{tag} as double)))"
    )


def _dh_oracle() -> str:
    sel_cols = ", ".join(
        f"min(CASE WHEN cast(cum as double) >= {qv} * cast(n as double)"
        f" THEN bin END) AS b_{tag}"
        for tag, qv in _DH_QS
    )
    f_cols = ", ".join(
        f"{qv} * cast(s.n as double) AS t_{tag}, "
        f"c{i}.bin AS f_bin_{tag}, cast(c{i}.cnt as bigint) AS f_cnt_{tag},"
        f" cast(c{i}.cum as bigint) AS f_cum_{tag}"
        for i, (tag, qv) in enumerate(_DH_QS)
    )
    f_joins = " ".join(
        f"JOIN c c{i} ON c{i}.source = s.source AND c{i}.bin = s.b_{tag}"
        for i, (tag, _qv) in enumerate(_DH_QS)
    )
    ex_cols = ", ".join(
        f"round(cast(quantile_cont(n_chars, {qv}) as double), 6)"
        f" AS exact_{tag}"
        for tag, qv in _DH_QS
    )
    out_cols = ", ".join(
        f"{_dh_est(tag)} AS est_{tag}, ex.exact_{tag},"
        f" abs({_dh_est(tag)} - ex.exact_{tag}) AS err_{tag}"
        for tag, _qv in _DH_QS
    )
    return f"""
WITH grid(w) AS (VALUES {_dh_grid_sql()}),
mm AS (
  SELECT cast(min(n_chars) as double) AS mn, cast(max(n_chars) as double) AS mx
  FROM documents WHERE n_chars IS NOT NULL
), kn AS (
  SELECT width, floor(mn / width) * width AS off_ FROM (
    SELECT CASE WHEN mm.mx <= mm.mn THEN cast(1.0 as double)
           ELSE (SELECT min(g.w) FROM grid g, mm
                 WHERE g.w >= (mm.mx - mm.mn) / {float(_DH_BINS - 1)!r})
           END AS width, mm.mn AS mn
    FROM mm)
), b AS (
  SELECT source,
         least(greatest(cast(floor((n_chars - kn.off_) / kn.width) as int),
                        0), {_DH_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM documents, kn WHERE n_chars IS NOT NULL GROUP BY 1, 2
), c AS (
  SELECT source, bin, cnt,
         sum(cnt) OVER (PARTITION BY source ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM b
), sel AS (
  SELECT source, max(n) AS n, {sel_cols}
  FROM c GROUP BY source
), f AS (
  SELECT s.source, s.n, kn.width, kn.off_, {f_cols}
  FROM sel s, kn {f_joins}
), ex AS (
  SELECT source, {ex_cols}
  FROM documents WHERE n_chars IS NOT NULL GROUP BY source
)
SELECT f.source, cast(f.n as bigint) AS n_docs, f.width, f.off_ AS "offset", {out_cols}
FROM f JOIN ex ON ex.source = f.source
"""


@register("q_doclen_hist_by_source", oracle=_dh_oracle())
def q_doclen_hist_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source histogram-interpolated p50/p90 of n_chars over a
    stats-DERIVED support, next to the exact percentiles (module note).
    The Spark knobs come from ``hist_knobs_for`` over the memoized
    ``table_stats`` ANALYZE; the oracle derives identical knobs inline
    from the same min/max — bit-identical by construction."""
    from ..stats import fixed_hist_bin, hist_knobs_for, table_stats

    knobs = hist_knobs_for(
        table_stats(spark, sf_dir, "documents"), "n_chars", bins=_DH_BINS
    )
    width, offset = knobs["width"], knobs["offset"]
    docs = (
        table(spark, sf_dir, "documents")
        .select("source", "n_chars")
        .where(F.col("n_chars").isNotNull())
    )
    b = docs.groupBy(
        "source", fixed_hist_bin("n_chars", width, _DH_BINS, offset).alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # windows over the (source, bin) relation: bounded by |sources| x 64
    w_cum = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cut: multi-consumer — sel + the fetch joins
    c = cut(
        b.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("source"))
        )
    )
    sel_aggs = [
        F.min(
            F.when(
                F.col("cum").cast("double")
                >= F.expr(qv) * F.col("n").cast("double"),
                F.col("bin"),
            )
        ).alias(f"b_{tag}")
        for tag, qv in _DH_QS
    ]
    f = c.groupBy("source").agg(F.max("n").alias("n"), *sel_aggs)
    for i, (tag, qv) in enumerate(_DH_QS):
        ci = c.select(
            F.col("source").alias(f"_s{i}"),
            F.col("bin").alias(f"f_bin_{tag}"),
            F.col("cnt").cast("bigint").alias(f"f_cnt_{tag}"),
            F.col("cum").cast("bigint").alias(f"f_cum_{tag}"),
        )
        f = f.join(
            F.broadcast(ci),
            (F.col(f"_s{i}") == F.col("source"))
            & (F.col(f"f_bin_{tag}") == F.col(f"b_{tag}")),
        ).withColumn(f"t_{tag}", F.expr(qv) * F.col("n").cast("double"))
    ex = docs.groupBy("source").agg(
        *[
            F.round(F.expr(f"percentile(n_chars, {qv}D)"), 6).alias(
                f"exact_{tag}"
            )
            for tag, qv in _DH_QS
        ]
    )
    cols = [
        F.col("source"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.lit(width).alias("width"),
        F.lit(offset).alias("offset"),
    ]
    for tag, _qv in _DH_QS:
        est = (
            F.lit(offset)
            + F.lit(width) * F.col(f"f_bin_{tag}")
            + F.lit(width)
            * (
                (
                    F.col(f"t_{tag}")
                    - (F.col(f"f_cum_{tag}") - F.col(f"f_cnt_{tag}")).cast(
                        "double"
                    )
                )
                / F.col(f"f_cnt_{tag}").cast("double")
            )
        )
        cols += [
            est.alias(f"est_{tag}"),
            F.col(f"exact_{tag}"),
            F.abs(est - F.col(f"exact_{tag}")).alias(f"err_{tag}"),
        ]
    return f.join(F.broadcast(ex), "source").select(*cols)
