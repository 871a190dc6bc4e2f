"""Distributed graph primitives expressed as DataFrame plans.

PageRank here is the join-based power iteration (the classic Pregel
message pass flattened into relational algebra): each iteration is one
equi-join of the edge relation with the current rank vector on ``src``
plus one partial-aggregated groupBy on ``dst``. At 100 TB the edge
relation is the fact side — it shuffles ONCE per iteration on its join
key and the rank vector stays node-grain (always the small side; a
1000-executor cluster pre-partitions edges by ``src`` once and reuses
that layout every iteration).

Engine parity (the oracle mirrors every step): per-term products are
plain double arithmetic (bit-identical), per-term decimal casts round
deterministically at 10dp, decimal sums are exact and order-independent
under any partitioning, and NOTHING is rounded at the end — the final
rank doubles are identical on both engines, so the driver's own
canonicalization agrees.

The dangling-node policy is ``teleport-only`` (no redistribution of
dangling mass): nodes without out-edges contribute nothing, so total
rank mass can dip below 1. This is the cheapest deterministic variant
(no extra global aggregate per iteration) and is fine for RANKING — the
ordering matches the redistributed variant when dangling mass is
uniform-ish; callers that need calibrated probabilities should
renormalize the output once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import cut
from .stable import dsum

DAMPING = 0.85
TELEPORT = 0.15  # 1 - DAMPING, kept as a literal so neither engine
# computes 1 - 0.85 (which is 0.15000000000000002 in IEEE doubles)


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Power-iterate PageRank. ``nodes``: column ``node``; ``edges``:
    columns ``src``, ``dst``, ``w`` with ``w`` out-normalized per src
    (rows with src having no edges are simply absent). Returns
    ``(node, r)`` with raw double ranks after ``iters`` iterations.

    ``broadcast_ranks``: hint the node-grain side (rank vector /
    contribution relation) broadcast in every iteration join. The edge
    relation sits behind a lineage cut, so Catalyst's size estimate for
    anything derived from it is the unknown-size default and the
    iteration joins otherwise fall to sort-merge (r13 plan audit: 5
    SortMergeJoins, 13 Exchanges for 3 iterations over a 625-row edge
    relation). Callers whose node set is DIMENSION-bounded (nation
    grain here) should pass True; a billion-node graph keeps the
    default — there the rank vector must shuffle."""
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # cut: multi-consumer — edges is read once per iteration; the
    # upstream (often fact-join) lineage runs once, not ``iters`` times
    edges = cut(edges)
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(iters):
        contrib = (
            edges.join(hint(ranks), edges["src"] == ranks["node"])
            .groupBy("dst")
            .agg(dsum(F.col("w") * F.col("r")).alias("m"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(hint(contrib), nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(TELEPORT) / F.col("n")
                    + F.lit(DAMPING) * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks


def sql_pagerank_ctes(iters: int, sum_term: str) -> str:
    """The oracle-side mirror: CTE text for ``iters`` iterations.
    Expects prior CTEs ``nodes(node)``, ``nn(n)``, ``edges(src, dst, w)``;
    ``sum_term`` is the engine-bridged decimal-sum-to-double expression
    over ``e.w * rPREV.r`` with the literal ``{prev}`` placeholder."""
    parts = [f"r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)"]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"""c{i} AS (
  SELECT e.dst AS node, {sum_term.format(prev=prev)} AS m
  FROM edges e JOIN {prev} ON e.src = {prev}.node GROUP BY e.dst
), r{i} AS (
  SELECT v.node, {TELEPORT} / nn.n + {DAMPING} * coalesce(c{i}.m, 0.0) AS r
  FROM nodes v CROSS JOIN nn LEFT JOIN c{i} ON c{i}.node = v.node
)"""
        )
    return ",\n".join(parts)
