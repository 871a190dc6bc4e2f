"""Distributed exact ranking helpers (no single-partition global windows).

``dist_ntile`` is the TeraSort-rank device: range-repartition on the sort
key (Spark's distributed sort), per-partition row index, broadcast
per-partition count offsets, closed-form ntile bucket from the global
rank. A global ``ntile().over(Window.orderBy(...))`` moves the ENTIRE
frame through one partition — the classic 100 TB scale-killer this helper
replaces. First grown inside q_order_deciles / q_customer_rfm
(operators/analytics2.py); hoisted here (r6) so sinks.zorder_by can
rank-normalize through it too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import cut


def dist_ntile(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    k: int,
    out_col: str,
    keep_value: bool = False,
) -> DataFrame:
    """Exact ntile(k) over (value_col, tie_col) without a one-partition
    global window. Returns (tie_col, out_col) — plus value_col when
    ``keep_value`` (saves consumers that aggregate over the value a
    join-back to the source) — with ntile's
    first-(n%k)-buckets-one-larger semantics.

    Correctness hardening (r5 advice): ``parts`` is evaluated by TWO plan
    branches (the offsets aggregate and the join-back). RangePartitioner's
    sampling is rddId-seeded, so without exchange reuse the two
    evaluations could draw DIFFERENT partition boundaries and silently
    misrank. Rather than documenting the ``spark.sql.exchange.reuse``
    precondition, the partitioned frame is cut (lazily —
    eager=True would pay a separate materialization job per call): the
    returned frame is ONE LogicalRDD, so both branches share a single
    shuffle dependency (one boundary sample) and read the same blocks no
    matter how the session is configured. Lineage truncation means lost
    blocks fail loudly instead of silently recomputing different ids.
    The checkpoint holds only (value, tie, pid, mid) — the narrow rank
    projection, not the caller's full row.
    """
    spark = df.sparkSession
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)
    # cut: pins ids — one boundary sample and one _mid assignment for both
    # consumers (offsets aggregate and join-back)
    parts = cut(
        df.select(value_col, tie_col)
        .repartitionByRange(n_part, value_col, tie_col)
        .sortWithinPartitions(value_col, tie_col)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        parts.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"), F.min("_mid").alias("base"))
        .select(
            F.col("_pid").alias("pid"),
            "base",
            F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
            F.sum("c").over(Window.partitionBy()).alias("n_total"),
        )
    )
    return (
        parts.join(F.broadcast(offs), parts["_pid"] == offs["pid"])
        .withColumn("rk", F.col("off") + (F.col("_mid") - F.col("base")) + 1)
        .withColumn(
            out_col,
            # ntile(k) semantics: the first (n%k) buckets get one extra row.
            F.expr(
                f"cast(CASE WHEN rk <= (n_total % {k}) * (n_total DIV {k} + 1)"
                f" THEN (rk - 1) DIV (n_total DIV {k} + 1) + 1"
                f" ELSE (n_total % {k}) + (rk - 1 - (n_total % {k}) * (n_total DIV {k} + 1))"
                f" DIV (n_total DIV {k}) + 1 END as int)"
            ),
        )
        .select(tie_col, *([value_col] if keep_value else []), out_col)
    )


# Broadcast-metadata bound of the grouped devices (r11 verdict #7): the
# offsets relation is |partitions| x |groups PRESENT| rows of ~56 bytes
# (pid, group, base, off[, sum_off], n_g). That is bounded for the
# dominant-group regime the devices target (few groups, any one of which
# may hold most of the table) — it is NOT bounded for millions of tiny
# groups, where the broadcast outgrows the budget exactly when no group
# needs the device anyway (every group fits one window task).
_OFFSET_ROW_BYTES = 56


def grouped_rank_strategy(
    stats: dict[str, dict],
    group_col: str,
    n_partitions: int,
    broadcast_max_bytes: int | None = None,
) -> str:
    """``'dist'`` (the range-partition device) or ``'window'`` (plain
    ``row_number().over(partitionBy(group).orderBy(...))``) from
    persisted/derived ``table_stats`` — the many-small-groups crossover
    chooser (r11 verdict #7).

    - offsets metadata ndv(group) x n_partitions x ~56 B must fit the
      broadcast budget, else 'window';
    - if it fits, use 'dist' only when the EXPECTED max group is bigger
      than one task's fair share (n_rows / n_partitions) — with many
      uniform groups a per-group window never funnels a big partition,
      so the plain window both scales and skips the device's extra
      shuffle. avg rows/group understates the max under skew, so the
      gate multiplies by a conservative 8x skew allowance.
    """
    from ..stats import DEFAULT_BROADCAST_MAX_BYTES

    budget = (
        DEFAULT_BROADCAST_MAX_BYTES
        if broadcast_max_bytes is None
        else broadcast_max_bytes
    )
    s = stats[group_col]
    ndv = max(float(s.get("approx_ndv") or 1.0), 1.0)
    n_rows = float(s["n_rows"])
    if ndv * n_partitions * _OFFSET_ROW_BYTES > budget:
        return "window"
    avg_group = n_rows / ndv
    fair_share = n_rows / max(n_partitions, 1)
    return "dist" if avg_group * 8.0 >= fair_share else "window"


def dist_group_rank(
    df: DataFrame, group_col: str, value_col: str, tie_col: str
) -> DataFrame:
    """Exact PER-GROUP rank over (value_col, tie_col) without a
    per-group sort window — the grouped complement of :func:`dist_ntile`
    (r10 verdict #7a), for grouped order statistics where one group can
    dominate the table (the 100 TB skew case a
    ``row_number().over(partitionBy(group).orderBy(value))`` window
    funnels into a single task).

    Device: range-repartition on (group, value, tie) — a group larger
    than one partition SPANS partitions, which is the whole point — then
    per-partition sorted segments give contiguous (partition, group)
    runs; their counts/offsets aggregate to |partitions| x |groups
    present| rows (bounded metadata, broadcast), and the global in-group
    rank is offset + in-segment index. Same exchange-reuse hardening as
    dist_ntile: the partitioned frame is lazily cut so
    both consumers share ONE boundary sample.

    Returns (group_col, value_col, tie_col, rk, n_g) with rk in
    [1, n_g] dense within each group. Rows with a NULL group form their
    own group, matching ``row_number().over(partitionBy(group))``
    semantics — the segment join uses null-safe equality (r11 advice,
    low: a plain ``=`` would silently drop NULL-group rows)."""
    spark = df.sparkSession
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)
    # cut: pins ids — one boundary sample and one _mid assignment
    parts = cut(
        df.select(group_col, value_col, tie_col)
        .repartitionByRange(n_part, group_col, value_col, tie_col)
        .sortWithinPartitions(group_col, value_col, tie_col)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    seg = parts.groupBy("_pid", group_col).agg(
        F.count(F.lit(1)).alias("c"), F.min("_mid").alias("base")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = seg.select(
        F.col("_pid").alias("_opid"),
        F.col(group_col).alias("_og"),
        "base",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
        F.sum("c").over(Window.partitionBy(group_col)).alias("n_g"),
    )
    return (
        parts.join(
            F.broadcast(offs),
            (parts["_pid"] == offs["_opid"])
            & parts[group_col].eqNullSafe(offs["_og"]),
        )
        .withColumn("rk", F.col("off") + (F.col("_mid") - F.col("base")) + 1)
        .select(group_col, value_col, tie_col, "rk", "n_g")
    )


def dist_group_rank_auto(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tie_col: str,
    stats: dict[str, dict] | None = None,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Strategy-aware grouped rank: runs :func:`dist_group_rank` or the
    plain per-group window per :func:`grouped_rank_strategy`, returning
    the identical (group, value, tie, rk, n_g) surface either way
    (pytest-pinned equal). Callers with persisted/derived ``table_stats``
    pass them; without stats the device is used (the conservative choice
    — it is correct in both regimes, merely wasteful in the
    many-tiny-groups one)."""
    strategy = "dist"
    if stats is not None and group_col in stats:
        n_part = max(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
            8,
        )
        strategy = grouped_rank_strategy(
            stats, group_col, n_part, broadcast_max_bytes
        )
    if strategy == "dist":
        return dist_group_rank(df, group_col, value_col, tie_col)
    w = Window.partitionBy(group_col).orderBy(value_col, tie_col)
    # bounded-group regime by the chooser's own gate: every group is far
    # below a task's fair share, so the per-group window never funnels a
    # data-sized partition (the global-window comment discipline)
    return df.select(group_col, value_col, tie_col).select(
        group_col,
        value_col,
        tie_col,
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n_g"),
    )


def dist_group_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tie_col: str,
    val_col: str,
) -> DataFrame:
    """Exact PER-GROUP rank AND running sum of ``val_col`` in
    (order_col, tie_col) order, without a per-group global window — the
    prefix-sum extension of :func:`dist_group_rank` (same range
    partitioning, same bounded offset metadata; r11).

    The within-segment running sum DOES use a window, but its partition
    is one (physical partition, group) segment — bounded by the task's
    input split, never by group size — the same chunk-bound discipline
    as the (user, day) event windows. Per-(partition, group) value sums
    join the count offsets in one broadcast relation, so the global
    prefix is segment_offset + local running sum.

    Sums are exact only for integral ``val_col`` (the caller's
    contract; use a decimal cast upstream for fractional values).
    Returns (group_col, order_col, tie_col, val_col, rk, cum)."""
    spark = df.sparkSession
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)
    # cut: pins ids — one boundary sample and one _mid assignment
    parts = cut(
        df.select(group_col, order_col, tie_col, val_col)
        .repartitionByRange(n_part, group_col, order_col, tie_col)
        .sortWithinPartitions(group_col, order_col, tie_col)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    seg = parts.groupBy("_pid", group_col).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(val_col).alias("s"),
        F.min("_mid").alias("base"),
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = seg.select(
        F.col("_pid").alias("_opid"),
        F.col(group_col).alias("_og"),
        "base",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
        F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("sum_off"),
    )
    w_local = (
        Window.partitionBy("_pid", group_col)
        .orderBy("_mid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        parts.withColumn("_lcum", F.sum(val_col).over(w_local))
        .join(
            F.broadcast(offs),
            (parts["_pid"] == offs["_opid"])
            & parts[group_col].eqNullSafe(offs["_og"]),
        )
        .withColumn("rk", F.col("off") + (F.col("_mid") - F.col("base")) + 1)
        .withColumn("cum", F.col("sum_off") + F.col("_lcum"))
        .select(group_col, order_col, tie_col, val_col, "rk", "cum")
    )


def dist_group_prefix_sum_auto(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tie_col: str,
    val_col: str,
    stats: dict[str, dict] | None = None,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Strategy-aware grouped prefix sum: :func:`dist_group_prefix_sum`
    or a plain per-group running-sum window per
    :func:`grouped_rank_strategy` (the same offsets-budget + fair-share
    gate — the prefix-sum device's offset relation is the rank device's
    plus one sum column, so the crossover is identical), returning the
    identical (group, order, tie, val, rk, cum) surface either way
    (pytest-pinned equal). Without stats the device runs — correct in
    both regimes, merely wasteful in the many-tiny-groups one (r12
    verdict #3: the prefix-sum auto twin)."""
    strategy = "dist"
    if stats is not None and group_col in stats:
        n_part = max(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
            8,
        )
        strategy = grouped_rank_strategy(
            stats, group_col, n_part, broadcast_max_bytes
        )
    if strategy == "dist":
        return dist_group_prefix_sum(df, group_col, order_col, tie_col, val_col)
    # bounded-group regime by the chooser's own gate (see
    # dist_group_rank_auto): every group sits far below one task's fair
    # share, so the per-group window never funnels a data-sized partition
    w = Window.partitionBy(group_col).orderBy(order_col, tie_col)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.select(group_col, order_col, tie_col, val_col).select(
        group_col,
        order_col,
        tie_col,
        val_col,
        F.row_number().over(w).alias("rk"),
        F.sum(val_col).over(w_run).alias("cum"),
    )
