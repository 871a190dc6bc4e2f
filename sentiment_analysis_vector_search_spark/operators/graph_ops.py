"""Graph analytics over relationally-derived edge lists.

``q_nation_pagerank`` ranks nations by trade-flow centrality: the edge
list is the supplier-nation → customer-nation revenue graph (the same
join spine as TPC-H Q7, un-filtered), out-normalized per source nation,
then run through 3 damped power iterations (functions/graph.pagerank).
The interesting part at 100 TB is the EDGE DERIVATION — the fact-fact
lineitem⋈orders shuffle with stats-gated dim sides — because the graph
itself aggregates to #nations² rows; on a billion-node graph the same
pagerank() plan holds with the rank vector shuffling instead of
broadcasting (it is a plain equi-join either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..catalog import cut, table
from ..functions.graph import pagerank, sql_pagerank_ctes
from ..functions.stable import sql_dec2double, sql_vardec
from ..registry import register

_PR_ITERS = 3

_SUM_TERM = sql_dec2double(f"sum({sql_vardec('e.w * {prev}.r')})")

_PR_ORACLE = f"""
WITH rev AS (
  SELECT sn.n_name AS src, cn.n_name AS dst,
         sum({sql_vardec('l_extendedprice * (1 - l_discount)')}) AS rev_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  GROUP BY sn.n_name, cn.n_name
), outm AS (
  SELECT src, sum(rev_dec) AS out_dec FROM rev GROUP BY src
), edges AS (
  SELECT rev.src, rev.dst,
         {sql_dec2double('rev.rev_dec')} / {sql_dec2double('outm.out_dec')} AS w
  FROM rev JOIN outm ON rev.src = outm.src
), nodes AS (
  SELECT n_name AS node FROM nation
), nn AS (
  SELECT cast(count(*) as double) AS n FROM nation
),
{sql_pagerank_ctes(_PR_ITERS, _SUM_TERM)}
SELECT node AS n_name, r AS pagerank,
       row_number() OVER (ORDER BY r DESC, node) AS rk
FROM r{_PR_ITERS}
"""


@register("q_nation_pagerank", oracle=_PR_ORACLE)
def q_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-flow PageRank over the supplier→customer nation graph.

    Scale shape: one lineitem⋈orders fact shuffle builds the weighted
    edge list (dims stats-gated via dim_hint, nation unconditionally
    broadcast); edge weights out-normalize through EXACT decimal sums
    (sum of per-row 10dp decimals, then one decimal-decimal division
    bridged to double — order-independent at any partitioning); the
    3 power iterations run on the aggregated #nations²-bounded edge
    relation behind a lineage cut, so the fact join executes once.
    Raw double ranks — no final round, the driver canonicalizes."""
    from ..stats import dim_hint

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    sup = dim_hint(
        spark, sf_dir,
        table(spark, sf_dir, "supplier"), "supplier", "lineitem", "l_suppkey",
    )
    cust = dim_hint(
        spark, sf_dir,
        table(spark, sf_dir, "customer"), "customer", "orders", "o_custkey",
    )
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("src"))
    cn = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("dst"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,10)")
    # No cut here: both consumers (outm and the edge join) sit inside
    # pagerank's edge cut, where exchange reuse runs the fact join once.
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("src", "dst")
        .agg(F.sum(vol).alias("rev_dec"))
    )
    outm = rev.groupBy("src").agg(F.sum("rev_dec").alias("out_dec"))
    edges = rev.join(outm, "src").select(
        "src",
        "dst",
        (F.col("rev_dec").cast("double") / F.col("out_dec").cast("double")).alias("w"),
    )
    nodes = nation.select(F.col("n_name").alias("node"))
    # broadcast_ranks: the node set is the nation DIMENSION (bounded at
    # any SF), and the edge checkpoint hides sizes from Catalyst — see
    # pagerank()'s docstring (r13: 5 SMJ -> broadcast joins).
    ranks = pagerank(nodes, edges, iters=_PR_ITERS, broadcast_ranks=True)
    w = Window.orderBy(F.desc("pagerank"), F.asc("n_name"))  # #nations rows only
    return (
        ranks.select(F.col("node").alias("n_name"), F.col("r").alias("pagerank"))
        .withColumn("rk", F.row_number().over(w))
    )


# ---------------------------------------------------------------------------
# q_nation_trade_triangles — TRIANGLE ENUMERATION on the heavy-trade
# graph: nations a < b < c where all three pairwise trade volumes clear
# a relative threshold. The canonical "node-iterator with ordered
# orientation" algorithm (Schank-Wagner / the MapReduce formulation in
# Suri-Vassilvitskii "Counting Triangles and the Curse of the Last
# Reducer"): orient every undirected edge low→high, then two equi-joins
# (ab.hi = bc.lo; ac = (ab.lo, bc.hi)) enumerate each triangle exactly
# once — no triple self-join of the undirected relation, no dedup.
#
# The relative edge threshold (pair line count >= 1.2 × mean pair
# count) keeps the definition scale-invariant: absolute cutoffs would
# make the graph complete at one SF and empty at another. The mean is
# an exact integer sum / exact count in double — bit-identical on both
# engines.
#
# Scale shape: the heavy stage is the fact-fact lineitem⋈orders edge
# derivation (same spine as q7/pagerank — dims broadcast, ONE shuffle);
# everything after runs at edge grain (≤ #nations² rows here; on a
# billion-edge graph the same two equi-joins hold, with degree-ordered
# orientation — orient toward the higher-degree endpoint — as the
# standard skew guard for the last-reducer problem, noted not needed at
# dimension-grain).
# ---------------------------------------------------------------------------

_TRI_FACTOR = 1.2

_TRI_ORACLE = f"""
WITH e0 AS (
  SELECT least(s_nationkey, c_nationkey) AS lo,
         greatest(s_nationkey, c_nationkey) AS hi,
         count(*) AS n
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2
), m AS (SELECT avg(n) AS an FROM e0),
e AS (SELECT lo, hi FROM e0, m WHERE n >= {_TRI_FACTOR} * an)
SELECT ab.lo AS key_a, bc.lo AS key_b, bc.hi AS key_c,
       na.n_name AS nation_a, nb.n_name AS nation_b, nc.n_name AS nation_c
FROM e ab
JOIN e bc ON ab.hi = bc.lo
JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
JOIN nation na ON na.n_nationkey = ab.lo
JOIN nation nb ON nb.n_nationkey = bc.lo
JOIN nation nc ON nc.n_nationkey = bc.hi
"""


@register("q_nation_trade_triangles", oracle=_TRI_ORACLE)
def q_nation_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-cliques of the heavy-trade nation graph via ordered-orientation
    triangle enumeration: each triangle found exactly once by two
    equi-joins over the low→high oriented edge list."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")

    sup_n = broadcast(sup.select("s_suppkey", "s_nationkey"))
    cust_n = broadcast(cust.select("c_custkey", "c_nationkey"))
    e0 = (
        li.select("l_suppkey", "l_orderkey")
        .join(sup_n, li.l_suppkey == sup_n.s_suppkey)
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_n, F.col("o_custkey") == cust_n.c_custkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("lo"),
            F.greatest("s_nationkey", "c_nationkey").alias("hi"),
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = e0.agg(F.avg("n").alias("an"))
    # cut: multi-consumer — 3 consumers in the triangle join
    e = cut(
        e0.crossJoin(broadcast(m))
        .where(F.col("n") >= F.lit(_TRI_FACTOR) * F.col("an"))
        .select("lo", "hi")
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    # Broadcast the probe sides: the oriented edge relation is
    # #nations²-bounded at ANY SF, but it sits behind the lineage cut so
    # Catalyst sees the unknown-size default and planned both triangle
    # joins as sort-merge (r13 plan audit). On a billion-EDGE graph this
    # operator's degree-ordered variant would drop the hints.
    tri = ab.join(broadcast(bc), "b").join(broadcast(ac), ["a", "c"])
    nm = lambda alias, key: broadcast(
        nation.select(
            F.col("n_nationkey").alias(key), F.col("n_name").alias(alias)
        )
    )
    return (
        tri.join(nm("nation_a", "a"), "a")
        .join(nm("nation_b", "b"), "b")
        .join(nm("nation_c", "c"), "c")
        .select(
            F.col("a").alias("key_a"),
            F.col("b").alias("key_b"),
            F.col("c").alias("key_c"),
            "nation_a",
            "nation_b",
            "nation_c",
        )
    )
