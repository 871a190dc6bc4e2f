"""Table statistics feedback loop: the planner consumes what
``sinks.analyze_table`` measures.

``sinks.analyze_table`` computes per-column rows/nulls/min/max/approx-ndv;
this module is the consumer side: a per-(session, sf_dir, table) stats
cache (one analyze scan per table per session — the in-repo stand-in for a metastore's persisted
``ANALYZE TABLE`` output) plus a stats-informed broadcast hint that
generalizes the ``dedup_index_check`` size gate: broadcast a join side
iff its ESTIMATED materialized size (estimated rows x schema row width)
fits under a threshold, instead of hard-coding the decision per
operator. At 100 TB the hard-coded hint is exactly what breaks — a
"dimension" that grew past executor memory OOMs every consumer; a
stats-driven gate degrades to a shuffle join instead.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import table
from .commit import META, fold_json, read_json, write_json

# Spark's own default autoBroadcastJoinThreshold is 10 MB; executors in
# this engine's target config comfortably hold a few dozen MB broadcast,
# matching dedup_index_check's ~low-hundreds-MB gate headroom.
DEFAULT_BROADCAST_MAX_BYTES = 32 << 20

# semi-join reduction fires only when the KMV sketches estimate that at
# most this fraction of big-side rows find a join partner — above it,
# the broadcast-leftsemi pre-filter pass costs more shuffle than it saves
SEMI_REDUCE_MAX_MATCH = 0.5

_STATS_MEMO: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


# Other modules' per-session stats memos (e.g. the semi-reduce demo's
# key-column sketches) register a clearer here so ONE refresh() call
# invalidates every derived-statistics cache — a rewritten sf_dir must
# not leave any gate consuming statistics of the replaced files.
_REFRESH_HOOKS: list = []


def on_refresh(hook) -> None:
    """Register ``hook(sf_dir_or_None)`` to run on every refresh()."""
    _REFRESH_HOOKS.append(hook)


def refresh(sf_dir: str | None = None) -> None:
    """Drop memoized stats for ``sf_dir`` (or all when None) across every
    live session. ``catalog.refresh`` calls this, because a
    session that rewrites an sf_dir must not leave the broadcast /
    join-strategy gates consuming statistics of the replaced files."""
    for per in _STATS_MEMO.values():
        if sf_dir is None:
            per.clear()
        else:
            for key in [k for k in per if k[0] == sf_dir]:
                del per[key]
    for hook in _REFRESH_HOOKS:
        hook(sf_dir)


def table_stats(spark: SparkSession, sf_dir: str, name: str) -> dict[str, dict]:
    """``column -> {n_rows, n_nulls, min_value, max_value, approx_ndv}``
    from one ``analyze_table`` scan, memoized per (session, sf_dir,
    table). The collect is bounded metadata (one row per column)."""
    from .sinks import analyze_table

    try:
        per = _STATS_MEMO.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable
        per = {}
    key = (sf_dir, name)
    stats = per.get(key)
    if stats is None:
        rows = analyze_table(table(spark, sf_dir, name)).collect()
        stats = {
            r["column"]: {
                "n_rows": r["n_rows"],
                "n_nulls": r["n_nulls"],
                "min_value": r["min_value"],
                "max_value": r["max_value"],
                "approx_ndv": r["approx_ndv"],
            }
            for r in rows
        }
        per[key] = stats
    return stats


# Conservative per-dtype in-memory row-width estimates (bytes). Strings
# fall back to the observed min/max value lengths when stats carry them.
_FIXED_WIDTHS: dict[type, int] = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.LongType: 8,
    T.FloatType: 4,
    T.DoubleType: 8,
    T.DateType: 4,
    T.TimestampType: 8,
    T.TimestampNTZType: 8,
}
_DEFAULT_WIDTH = 24  # strings/decimals/unknown without stats


def schema_row_bytes(df: DataFrame, stats: dict[str, dict] | None = None) -> int:
    """Estimated bytes per materialized row of ``df`` from dtypes, using
    observed string lengths from ``stats`` when available."""
    total = 0
    for f in df.schema.fields:
        w = _FIXED_WIDTHS.get(type(f.dataType))
        if w is None and stats and f.name in stats:
            s = stats[f.name]
            w = max(
                len(s["min_value"] or ""), len(s["max_value"] or ""), 4
            )
        total += w if w is not None else _DEFAULT_WIDTH
    return total


def estimated_range_rows(
    stats: dict[str, dict],
    col: str,
    lo: float,
    hi: float,
    histogram: list | None = None,
    sample: list | None = None,
) -> float:
    """Estimated surviving rows of ``col BETWEEN lo AND hi`` under the
    uniform-distribution assumption: overlap fraction of [lo, hi] with
    the observed [min, max], scaled by non-null rows — the classic CBO
    range selectivity, feeding the same broadcast gate as the equality
    estimate. Falls back to all non-null rows when min/max are absent
    or non-numeric (skip only when proven — same rule as the manifest
    pruner).

    ``histogram`` (rows of :func:`column_histogram`: bucket/lo/hi/n_rows)
    upgrades the estimate from uniform interpolation to bucket-mass
    interpolation: mass is summed per overlapping bucket,
    with only the PARTIAL buckets at the range edges interpolated — on a
    skewed column the uniform estimate misattributes the heavy tail's
    mass across the whole domain; the histogram pins it to its bucket.

    ``sample`` (the ``rows`` of the maintained ``"sample"`` sketch:
    [row_hash, value] pairs of the persisted uniform bottom-k row
    sample) is the histogram's cheaper understudy: for
    a column that never earned a histogram scan, the in-range fraction
    of a uniform row sample is an unbiased selectivity estimate —
    empirical-CDF mass, error O(1/sqrt(k)) — which on skewed data beats
    the uniform min/max interpolation by the size of the skew. The
    histogram wins when both exist (exact per-bucket mass vs sampling
    noise); no artifact at all falls back to uniform."""
    s = stats[col]
    non_null = s["n_rows"] - s["n_nulls"]
    if sample and not histogram:
        vs = [float(r[1]) for r in sample]
        in_range = sum(1 for v in vs if lo <= v <= hi)
        return non_null * (in_range / len(vs))
    if histogram:
        total = 0.0
        for r in histogram:
            b_lo, b_hi, n = r["lo"], r["hi"], r["n_rows"]
            if b_lo is None:
                continue
            if b_hi is None or b_hi <= b_lo:  # degenerate single-value bucket
                if lo <= b_lo <= hi:
                    total += n
                continue
            overlap = min(hi, b_hi) - max(lo, b_lo)
            if overlap > 0:
                total += n * min(overlap / (b_hi - b_lo), 1.0)
        return total
    try:
        mn, mx = float(s["min_value"]), float(s["max_value"])
    except (TypeError, ValueError):
        return float(non_null)
    if mx <= mn:  # single-valued column: all or nothing
        return float(non_null) if lo <= mn <= hi else 0.0
    frac = (min(hi, mx) - max(lo, mn)) / (mx - mn)
    return non_null * min(max(frac, 0.0), 1.0)


def estimated_equality_rows(stats: dict[str, dict], col: str) -> float:
    """Estimated surviving rows of an equality filter ``col = lit`` under
    the uniform-frequency assumption: non-null rows / ndv — the classic
    CBO selectivity, and the place ``approx_ndv`` earns its scan."""
    s = stats[col]
    non_null = s["n_rows"] - s["n_nulls"]
    return non_null / max(s["approx_ndv"] or 1, 1)


def hint_broadcast_if_small(
    df: DataFrame,
    est_rows: float,
    row_bytes: int | None = None,
    max_bytes: int = DEFAULT_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """``broadcast(df)`` iff est_rows x row_bytes fits ``max_bytes``,
    else ``df`` unchanged (the join falls back to Spark's shuffle
    strategies). ``row_bytes`` defaults to the dtype-based estimate."""
    width = row_bytes if row_bytes is not None else schema_row_bytes(df)
    if est_rows * width <= max_bytes:
        return F.broadcast(df)
    return df


# ---------------------------------------------------------------------------
# Persisted stats — the metastore surface. ANALYZE once (a maintenance
# job), read forever: consumers on OTHER sessions load the JSON instead
# of re-scanning the table. Stats live in a caller-provided directory
# (never inside a read-only data dir), one atomic JSON per table.
# ---------------------------------------------------------------------------


def write_table_stats(
    spark: SparkSession, sf_dir: str, name: str, stats_dir: str
) -> str:
    """Compute and persist ``name``'s stats as ``{stats_dir}/{name}.json``
    (one atomic write). Returns the written path."""
    path = os.path.join(stats_dir, f"{name}.json")
    write_json(path, table_stats(spark, sf_dir, name))
    return path


# ---------------------------------------------------------------------------
# Join-strategy chooser — the skew-detection consumer of the stats,
# because a join's strategy is where skew costs most. ndv << rows on a
# join key is the classic power-law pile-up signal: AQE splits moderate skew at runtime, but a
# hot-key ratio past ``salt_rows_per_key`` is where the explicit salted
# join (operators/skew.salted_join) wins, because the planner never sees
# per-key row counts until the shuffle already happened.
# ---------------------------------------------------------------------------


def key_set_bytes(stats: dict[str, dict], key_col: str) -> float:
    """Estimated broadcast size of ``key_col``'s DISTINCT key set — the
    semi-join-reduction gate's small-side cost. Per-key bytes come from
    the column's OWN stats, not a fixed constant, because a wide
    string key (URL, content hash) can pass an ndv x 16 gate yet
    broadcast a key set far over the threshold. Observed min/max value
    lengths bound the payload width (numerics stringify to their digit
    count — same order as their storage width); +16 covers the broadcast
    hash-set entry overhead."""
    s = stats[key_col]
    key_width = max(
        len(str(s.get("min_value") or "")),
        len(str(s.get("max_value") or "")),
        8,
    )
    return max(s.get("approx_ndv", 1.0), 1.0) * (key_width + 16)


def avg_rows_per_key(stats: dict[str, dict], key_col: str) -> float:
    s = stats[key_col]
    non_null = s["n_rows"] - s["n_nulls"]
    return non_null / max(s["approx_ndv"] or 1, 1)


def choose_join_strategy(
    small_stats: dict[str, dict],
    big_stats: dict[str, dict] | None,
    key_col: str,
    small_row_bytes: int,
    broadcast_max_bytes: int = DEFAULT_BROADCAST_MAX_BYTES,
    salt_rows_per_key: float = 1_000_000.0,
    hot_rows: float | None = None,
) -> str:
    """'broadcast' | 'salted' | 'semi_reduce' | 'shuffle' from persisted
    stats only.

    - broadcast when the small side's estimated bytes fit the threshold
      (a broadcast join is also immune to big-side key skew — the hot
      key never shuffles);
    - salted when the small side is too big to broadcast AND the big
      side's join key averages more than ``salt_rows_per_key`` rows per
      key (ndv << rows: one reducer would take the pile-up);
    - plain shuffle otherwise (AQE handles moderate skew at runtime).

    ``big_stats`` may be None when the caller cannot (or should not pay
    to) characterize the big side — the salt branch is then skipped and
    an over-threshold small side degrades to 'shuffle'. ``big_stats``
    can also be a CALLABLE returning the stats dict: it is invoked only
    when the broadcast test fails, so the common broadcast-fits path
    never triggers the big side's ANALYZE scan.

    ``hot_rows`` (optional, from ``hot_key_rows``'s Misra-Gries pass)
    catches the skew shape the ndv average CANNOT see: a high-ndv key
    column with one sentinel value holding a table-sized share. When the
    hottest single key exceeds ``salt_rows_per_key``, salt regardless of
    the average."""
    small_rows = next(iter(small_stats.values()))["n_rows"]
    if small_rows * small_row_bytes <= broadcast_max_bytes:
        return "broadcast"
    if hot_rows is not None and hot_rows > salt_rows_per_key:
        return "salted"
    if callable(big_stats):
        big_stats = big_stats()
    if big_stats is not None and (
        avg_rows_per_key(big_stats, key_col) > salt_rows_per_key
    ):
        return "salted"
    # Semi-join reduction (the estimate_join_rows consumer): when the
    # small side's ROWS overflow the broadcast threshold but its KEY SET
    # does not, and the KMV sketches say most big-side rows will NOT
    # find a partner, pre-filtering the big side with a broadcast
    # leftsemi on the distinct keys cuts the wide shuffle's volume to
    # the matching fraction. Only worth it when the match fraction is
    # genuinely low — pre-filtering a join that keeps everything is a
    # pure extra pass.
    if (
        big_stats is not None
        and key_col in small_stats
        and key_col in big_stats
        and small_stats[key_col].get("kmv")
        and big_stats[key_col].get("kmv")
    ):
        s, b = small_stats[key_col], big_stats[key_col]
        _, ndv_i, _ = kmv_intersection(s["kmv"], b["kmv"])
        big_rows = b["n_rows"] - b.get("n_nulls", 0)
        matched = ndv_i * (big_rows / max(b.get("approx_ndv", 1.0), 1.0))
        if (
            key_set_bytes(small_stats, key_col) <= broadcast_max_bytes
            and big_rows > 0
            and matched / big_rows <= SEMI_REDUCE_MAX_MATCH
        ):
            return "semi_reduce"
    return "shuffle"


def choose_join_order(
    fact_stats: dict[str, dict],
    dims: list[dict],
    broadcast_max_bytes: int | None = None,
) -> list[dict]:
    """Stats-driven join ORDER for a 3+-table star around one fact
    ``choose_join_strategy`` picks the physical
    strategy per edge, this picks the SEQUENCE. Each dim entry is
    ``{"name", "stats", "fact_col"[, "dim_col"][, "row_bytes"]}`` where
    ``stats`` characterizes the (possibly pre-filtered) dimension as the
    caller will actually join it — filtering is where selectivities
    come from, and dim-side stats are one bounded scan each
    (partition_stats) or free from the maintained artifacts.

    Model: per-edge selectivity = estimate_join_rows(fact, dim) /
    fact_rows — the surviving fact fraction after that inner join.
    Under the star independence model the total intermediate after any
    prefix is fact_rows x the product of its selectivities, so sorting
    ascending by selectivity minimizes EVERY intermediate
    simultaneously (the greedy is exact here, not a heuristic; ties
    break by estimated output then name for determinism). The classic
    failure this prevents at 100 TB: joining the selectivity~1
    calendar/spine dim first drags the full fact row width through
    every subsequent shuffle that a 1%-selective dim would have cut
    100x on step one.

    Returns ordered steps ``{"dim", "selectivity", "est_rows_after",
    "strategy"}`` — ``est_rows_after`` is the modeled intermediate
    cardinality after that join; ``strategy`` comes from
    ``choose_join_strategy`` with the fact as the big side (broadcast
    edges are order-insensitive cost-wise, but keeping them early still
    shrinks the row count the first shuffle edge sees)."""
    budget = (
        DEFAULT_BROADCAST_MAX_BYTES
        if broadcast_max_bytes is None
        else broadcast_max_bytes
    )
    if not dims:
        return []
    first = dims[0]
    f0 = fact_stats[first["fact_col"]]
    fact_rows = max(f0["n_rows"] - f0.get("n_nulls", 0), 1)
    steps = []
    for d in dims:
        fact_col = d["fact_col"]
        dim_col = d.get("dim_col", fact_col)
        fs, ds = fact_stats[fact_col], d["stats"][dim_col]
        if fs.get("kmv") and ds.get("kmv"):
            est = estimate_join_rows(fact_stats, d["stats"], fact_col, dim_col)
        else:
            # FK-containment fallback when either side lacks a KMV
            # sketch (table_stats' memoized ANALYZE carries none): in a
            # star, surviving dim keys are a subset of fact keys, so
            # matching ndv = min(ndv) and each side contributes its
            # avg rows/key — the same model estimate_join_rows uses,
            # minus the measured intersection.
            rows_f = max(fs["n_rows"] - fs.get("n_nulls", 0), 0)
            rows_d = max(ds["n_rows"] - ds.get("n_nulls", 0), 0)
            ndv_f = max(float(fs.get("approx_ndv") or 1.0), 1.0)
            ndv_d = max(float(ds.get("approx_ndv") or 1.0), 1.0)
            est = min(ndv_f, ndv_d) * (rows_f / ndv_f) * (rows_d / ndv_d)
        sel = min(est / fact_rows, 1.0)
        row_bytes = d.get("row_bytes", _DEFAULT_WIDTH * len(d["stats"]))
        strategy = choose_join_strategy(
            d["stats"], fact_stats, fact_col, row_bytes, budget
        )
        steps.append(
            {
                "dim": d["name"],
                "selectivity": sel,
                "strategy": strategy,
                "_est": est,
            }
        )
    steps.sort(key=lambda st: (st["selectivity"], st["_est"], st["dim"]))
    running = float(fact_rows)
    for st in steps:
        running *= st["selectivity"]
        st["est_rows_after"] = round(running, 1)
        st["selectivity"] = round(st["selectivity"], 6)
        del st["_est"]
    return steps


def ordered_star_join(
    fact: DataFrame,
    dims: dict[str, tuple[DataFrame, str, str]],
    plan: list[dict],
) -> DataFrame:
    """Apply a ``choose_join_order`` plan: inner-join each dimension in
    plan order, broadcast-hinting the edges the per-edge chooser marked
    'broadcast'. ``dims`` maps name -> (df, fact_col, dim_col). The
    OUTPUT relation is order-independent (inner joins commute) — only
    the intermediates differ, which is the whole point — pinned by
    pytest against the reversed order."""
    out = fact
    for step in plan:
        df, fact_col, dim_col = dims[step["dim"]]
        side = F.broadcast(df) if step["strategy"] == "broadcast" else df
        out = out.join(side, out[fact_col] == df[dim_col], "inner")
    return out


def dim_hint(
    spark: SparkSession,
    sf_dir: str,
    dim: DataFrame,
    dim_table: str,
    big_table: str,
    big_key: str,
    broadcast_max_bytes: int | None = None,
) -> DataFrame:
    """Stats-informed dimension-side hint for a query's dim join (the
    wiring that makes ``choose_join_strategy`` a real consumer):
    broadcast the dim iff the chooser picks 'broadcast' from
    the memoized ANALYZE stats (full-table rows x dtype width — a
    conservative bound when the caller filtered the dim first).
    Otherwise the dim returns UNhinted and the join falls to Spark's
    shuffle strategies — the 'salted' strategy cannot apply to a one-sided
    hint (salting rewrites both join inputs; see
    ``stats_informed_join`` for the full rewrite) and degrades to the
    same shuffle AQE would skew-split. The threshold is read at call
    time so tests (and deploys) can flip the strategy by overriding
    ``DEFAULT_BROADCAST_MAX_BYTES``."""
    small_stats = table_stats(spark, sf_dir, dim_table)
    cap = (
        broadcast_max_bytes
        if broadcast_max_bytes is not None
        else DEFAULT_BROADCAST_MAX_BYTES
    )
    # big side's ANALYZE is LAZY: the broadcast-fits common case must
    # not pay a fact-table scan for a salt check it will never reach.
    strategy = choose_join_strategy(
        small_stats,
        lambda: table_stats(spark, sf_dir, big_table),
        big_key,
        schema_row_bytes(dim, small_stats),
        cap,
    )
    return F.broadcast(dim) if strategy == "broadcast" else dim


def stats_informed_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    big_stats: dict[str, dict],
    small_stats: dict[str, dict],
    broadcast_max_bytes: int = DEFAULT_BROADCAST_MAX_BYTES,
    salt_rows_per_key: float = 1_000_000.0,
    how: str = "inner",
    hot_rows: float | None = None,
) -> DataFrame:
    """Equi-join with the strategy picked by :func:`choose_join_strategy`.
    Result rows are identical under every strategy (pytest-pinned); only
    the physical plan differs. ``hot_rows`` (a ``hot_key_rows``
    Misra-Gries measurement of the big side's key) triggers the salted
    rewrite on single-sentinel skew the ndv average cannot see."""
    strategy = choose_join_strategy(
        small_stats,
        big_stats,
        key_col,
        schema_row_bytes(small, small_stats),
        broadcast_max_bytes,
        salt_rows_per_key,
        hot_rows=hot_rows,
    )
    if strategy == "broadcast":
        return big.join(F.broadcast(small), on=key_col, how=how)
    if strategy == "salted":
        from .operators.skew import salted_join

        return salted_join(big, small, key_col, how=how)
    if strategy == "semi_reduce" and how == "inner":
        # pre-filter the big side to rows that WILL match (broadcast
        # leftsemi on the small side's distinct keys — the key set fits
        # the broadcast threshold by the chooser's test), so the wide
        # two-sided shuffle moves only the matching fraction. Inner-only:
        # outer joins must keep non-matching big rows.
        keys = F.broadcast(small.select(key_col).distinct())
        reduced = big.join(keys, on=key_col, how="leftsemi")
        return reduced.join(small, on=key_col, how=how)
    return big.join(small, on=key_col, how=how)


# ---------------------------------------------------------------------------
# Fixed-width histogram — the MERGEABLE histogram. column_histogram
# below derives its bucket bounds from the observed min/max, which makes
# it a fine one-shot CBO artifact but NOT batch-mergeable: two batches
# with different ranges bucket differently. The fixed-width form (bin =
# clamp(floor(value / width), 0, bins-1)) has data-independent bounds,
# so per-batch counts ADD — across shards, engines, and arrival orders —
# making it the maintainable quantile summary behind
# q_value_hist_quantiles' estimator (operators/sketch_ops.py): keep the
# artifact current per batch, serve interpolated quantiles from B
# integers of driver metadata, never rescan the table.
# ---------------------------------------------------------------------------

HIST_WIDTH = 10.0
HIST_BINS = 64


def fixed_hist_bin(
    col: str, width: float, bins: int, offset: float = 0.0
) -> F.Column:
    """The shared bin expression: clamp(floor((col - offset) / width),
    0, bins - 1). ``offset`` shifts the support to
    [offset, offset + bins*width) so negative- or wide-range columns bin
    correctly instead of piling into bins 0/63; offset 0.0 reproduces
    an artifact built before offsets existed bit-for-bit."""
    cd = F.col(col).cast("double")
    return F.least(
        F.greatest(
            F.floor((cd - F.lit(float(offset))) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )


def column_fixed_histogram(
    df: DataFrame,
    col: str,
    width: float = HIST_WIDTH,
    bins: int = HIST_BINS,
    offset: float = 0.0,
) -> dict[int, int]:
    """bin -> count over ``col`` in ONE partial-agg scan (<= ``bins``
    rows to the driver). Non-finite values are excluded (the
    column_histogram precedent)."""
    cd = F.col(col).cast("double")
    finite = (
        cd.isNotNull()
        & ~F.isnan(cd)
        & (cd != F.lit(float("inf")))
        & (cd != F.lit(float("-inf")))
    )
    rows = (
        df.where(finite)
        .groupBy(fixed_hist_bin(col, width, bins, offset).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {int(r["bin"]): int(r["n"]) for r in rows}


def fixed_hist_rows(art: dict) -> list[dict]:
    """Adapt a persisted fixed-width histogram artifact
    (``load_sketch("hist", ...)``) into the bucket rows
    :func:`estimated_range_rows` consumes (lo/hi/n_rows dicts) — the
    maintained artifact feeds the planner's range selectivity the way a
    one-shot column_histogram scan does, with NO rescan: the sketch
    loop (KMV→ndv, MG→salt, bottom-k→selectivity, CMS→hot-key probe,
    histogram→range mass) stays closed for the histogram too. The
    last bin is open-ended by construction (values clamp into it); its
    ``hi`` edge is still width*(b+1) — the same bounded-support
    assumption the fixed-width estimator itself makes."""
    w = float(art["width"])
    o = float(art.get("offset", 0.0))
    return [
        {"bucket": b, "lo": o + w * b, "hi": o + w * (b + 1), "n_rows": n}
        for b, n in sorted(art["counts"].items())
    ]


def hist_quantile(
    counts: dict[int, int], width: float, q: float, offset: float = 0.0
) -> float:
    """Interpolated quantile from a fixed-width histogram — the SAME
    arithmetic as q_value_hist_quantiles' in-engine estimator (t = q*n,
    first bin with cum >= t, within-bin linear interpolation), so the
    served value from the maintained artifact matches the graded
    query's estimate on identical counts."""
    n = sum(counts.values())
    if n == 0:
        raise ValueError("empty histogram")
    t = q * float(n)
    cum = 0
    for b in sorted(counts):
        prev = cum
        cum += counts[b]
        if float(cum) >= t:
            return float(offset) + float(width) * b + float(width) * (
                (t - float(prev)) / float(counts[b])
            )
    b = max(counts)
    return float(offset) + float(width) * (b + 1)  # q == 1.0 edge



# Candidate "nice" widths for stats-derived histogram knobs: {1, 2, 5}
# x 10^k. The snap never evaluates a transcendental (no log10) — the
# derivation is comparisons over this fixed grid, so ANY engine or
# process deriving knobs from the same min/max lands on the same width
# (the rule-31 discipline applied to knob derivation).
HIST_NICE_WIDTHS: tuple[float, ...] = tuple(
    m * (10.0**k) for k in range(-6, 13) for m in (1.0, 2.0, 5.0)
)


def hist_knobs_for(
    stats: dict[str, dict], col: str, bins: int = HIST_BINS
) -> dict:
    """{"width", "bins", "offset"} for a fixed-width histogram of
    ``col``, derived from maintained min/max stats (``table_stats`` and
    the ``"analyze"`` sketch both carry them) — the artifact family's own
    discipline (bloom_bits_per_key_for precedent), because hard-coded
    knobs silently pile a negative- or wide-range column into bins 0/63.

    width = the smallest nice grid value >= span/(bins-1) (the -1 keeps
    the max in support after the offset snaps DOWN); offset = floor(mn /
    width) * width, so negative mins shift the support instead of
    clamping. Degenerate spans (single value, empty) get width 1.0.
    Deriving from CURRENT stats trades the fixed support for a fitted
    one: the artifact stays mergeable across batches (the knobs ride in
    the JSON under the knob-mismatch refusal), but a future batch beyond
    the fitted range clamps into the edge bins — re-derive + rebuild
    when the maintained min/max move past the support, the same
    re-band tripwire discipline as dedup_index_stats."""
    import math

    s = stats[col]
    mn = float(s["min_value"])
    mx = float(s["max_value"])
    span = mx - mn
    width = 1.0
    if span > 0:
        raw = span / float(bins - 1)
        for w in HIST_NICE_WIDTHS:
            if w >= raw:
                width = w
                break
        else:  # absurd range: fall back to the exact ratio
            width = raw
    offset = math.floor(mn / width) * width
    return {"width": float(width), "bins": int(bins), "offset": float(offset)}


def served_hist_quantiles(
    stats_dir: str, name: str, col: str, qs: tuple[float, ...]
) -> dict[str, float]:
    """q -> interpolated quantile served from the MAINTAINED fixed-width
    histogram artifact — q_value_percentiles' documented scale path
    realized: no table scan, <= bins integers of driver
    metadata, knobs read from the artifact itself. Raises KeyError when
    the artifact is absent (serve-from-artifact is an explicit contract,
    not a silent fallback)."""
    art = load_sketch("hist", stats_dir, name, col=col)
    if not art:
        raise KeyError(f"no maintained histogram for {name}.{col} in {stats_dir}")
    w = float(art["width"])
    o = float(art.get("offset", 0.0))
    return {str(q): hist_quantile(art["counts"], w, q, o) for q in qs}


def histogram_support_check(
    stats_dir: str,
    name: str,
    col: str,
    stats: dict[str, dict] | None = None,
    group_col: str | None = None,
) -> dict:
    """The re-band tripwire for the maintained histogram (the
    dedup_index_stats discipline applied to it): compare
    the STORED knobs against the knobs the CURRENT maintained min/max
    stats derive. A drifting corpus can push values past the fitted
    support, where they silently clamp into the edge bins and quantile
    estimates flatten; this check is how the store owner notices.

    ``stats``: the live stats dict (the ``"analyze"`` sketch or
    ``table_stats``); defaults to the persisted ``{stats_dir}/{name}.json``.
    Returns {"stored": knobs, "derived": knobs, "support_lo/hi",
    "min_in_support", "max_in_support", "edge_bin_fraction",
    "rebuild_recommended"} — recommended when the observed min/max fall
    outside the stored support OR the derived width differs (the
    range widened enough for the snap to move). Raises KeyError when no
    artifact exists (an explicit contract, like served_hist_quantiles)."""
    if group_col:
        art = load_sketch("ghist", stats_dir, name, group_col=group_col, col=col)
    else:
        art = load_sketch("hist", stats_dir, name, col=col)
    if not art:
        raise KeyError(f"no maintained histogram for {name}.{col} in {stats_dir}")
    if stats is None:
        stats = load_sketch("analyze", stats_dir, name)
    if stats is None or col not in stats:
        raise KeyError(
            f"no maintained stats for {name}.{col} in {stats_dir}"
            " (run analyze-incremental first)"
        )
    w = float(art["width"])
    o = float(art.get("offset", 0.0))
    bins = int(art["bins"])
    stored = {"width": w, "bins": bins, "offset": o}
    derived = hist_knobs_for(stats, col, bins=bins)
    lo, hi = o, o + bins * w
    mn = float(stats[col]["min_value"])
    mx = float(stats[col]["max_value"])
    if group_col:
        counts_iter = art["counts"].values()
    else:
        counts_iter = [art["counts"]]
    edge = total = 0
    for c in counts_iter:
        for b, n in c.items():
            total += n
            if b in (0, bins - 1):
                edge += n
    return {
        "stored": stored,
        "derived": derived,
        "support_lo": lo,
        "support_hi": hi,
        "min_in_support": mn >= lo,
        "max_in_support": mx < hi,
        "edge_bin_fraction": (edge / total) if total else 0.0,
        "rebuild_recommended": (
            mn < lo or mx >= hi or derived["width"] != w
        ),
    }


# ---------------------------------------------------------------------------
# GROUPED fixed-width histogram — the fixed-width
# artifact at group grain: one partial-agg scan to (group, bin) rows
# (<= |groups| x bins — bounded for the few-big-groups shapes the
# grouped percentile queries serve), additive across batches exactly
# like the global artifact, so per-group interpolated quantiles
# (corpus_data_card's p50/p90, q_group_percentiles' scale path) are
# served from driver metadata without rescanning the table.
# ---------------------------------------------------------------------------


def column_fixed_histogram_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    width: float = HIST_WIDTH,
    bins: int = HIST_BINS,
    offset: float = 0.0,
) -> dict[str, dict[int, int]]:
    """group -> {bin -> count} in ONE partial-agg scan (<= |groups| x
    ``bins`` rows to the driver). NULL values are excluded per group
    (the exact-percentile legs ignore them too, so NULLs stay at
    parity); a NULL group keys as the empty string's "None"
    repr-stable alternative: it is kept under the JSON key "null"."""
    cd = F.col(col).cast("double")
    finite = (
        cd.isNotNull()
        & ~F.isnan(cd)
        & (cd != F.lit(float("inf")))
        & (cd != F.lit(float("-inf")))
    )
    rows = (
        df.where(finite)
        .groupBy(
            F.col(group_col).alias("g"),
            fixed_hist_bin(col, width, bins, offset).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out: dict[str, dict[int, int]] = {}
    for r in rows:
        g = "null" if r["g"] is None else str(r["g"])
        out.setdefault(g, {})[int(r["bin"])] = int(r["n"])
    return out


def served_group_quantiles(
    stats_dir: str,
    name: str,
    group_col: str,
    col: str,
    qs: tuple[float, ...],
) -> dict[str, dict[str, float]]:
    """group -> {q -> interpolated quantile} from the maintained GROUPED
    artifact — the scale path for per-group percentile surfaces
    (corpus_data_card's p50/p90, the q_group_percentiles family):
    serving cost |groups| x bins integers, no table scan."""
    art = load_sketch("ghist", stats_dir, name, group_col=group_col, col=col)
    if not art:
        raise KeyError(
            f"no maintained grouped histogram for {name}.{group_col}.{col}"
            f" in {stats_dir}"
        )
    w = float(art["width"])
    o = float(art.get("offset", 0.0))
    return {
        g: {str(q): hist_quantile(c, w, q, o) for q in qs}
        for g, c in art["counts"].items()
        if c
    }


def column_histogram(df: DataFrame, col: str, bins: int = 16) -> DataFrame:
    """Equi-width histogram over a numeric column in ONE partial-agg
    scan: (bucket, lo, hi, n_rows). The CBO artifact behind range
    selectivity beyond the uniform assumption — where
    ``estimated_range_rows`` interpolates min/max linearly, a histogram
    exposes the actual mass per interval (skew shows up as a heavy
    bucket). The min/max come from a first bounded-metadata aggregate
    (the same scan analyze_table already pays when its stats are reused
    via ``table_stats``)."""
    import math

    # Exclude non-finite values from BOTH the min/max probe and the
    # bucketing scan, because Spark's max treats NaN as the
    # largest double, so a single NaN row would otherwise make the bucket
    # width NaN and collapse the histogram into one null bucket.
    cd = F.col(col).cast("double")
    finite = (
        cd.isNotNull()
        & ~F.isnan(cd)
        & (cd != F.lit(float("inf")))
        & (cd != F.lit(float("-inf")))
    )
    df = df.where(finite)
    row = df.agg(
        F.min(col).cast("double").alias("mn"), F.max(col).cast("double").alias("mx")
    ).collect()[0]
    mn, mx = row["mn"], row["mx"]
    if (
        mn is None
        or mx is None
        or not math.isfinite(mn)
        or not math.isfinite(mx)
        or mx <= mn
    ):
        # degenerate: single value or empty — one bucket carries all
        return df.where(F.col(col).isNotNull()).agg(
            F.lit(0).alias("bucket"),
            F.lit(mn).alias("lo"),
            F.lit(mx).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    width = (mx - mn) / bins
    bucket = F.least(
        F.floor((F.col(col).cast("double") - F.lit(mn)) / F.lit(width)),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            (F.lit(mn) + F.col("bucket") * F.lit(width)).alias("lo"),
            (F.lit(mn) + (F.col("bucket") + 1) * F.lit(width)).alias("hi"),
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# Incremental ANALYZE — mergeable per-partition statistics. At
# 100 TB a full re-ANALYZE per ingest batch is a full table scan; the
# scalable shape is per-partition stats + a merge. rows/nulls merge by
# sum, min/max by comparison; distinct counts need a MERGEABLE sketch,
# so each column carries a KMV (bottom-k / k-minimum-values) sketch:
# the k smallest 60-bit value hashes. Sketch union = merge arrays, keep
# the k smallest — associative, commutative, idempotent-per-value — and
# the classic estimator NDV ~ (k-1) * DOMAIN / kth_smallest once the
# sketch is full (exact below k distincts).
# ---------------------------------------------------------------------------

KMV_K = 1024
KMV_DOMAIN = (1 << 60) - 1  # 15 hex chars of md5


def _kmv_hash(col: str):
    # value -> uniform 60-bit integer (md5 prefix; engine-portable)
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def column_kmv(df: DataFrame, col: str, k: int = KMV_K) -> list[int]:
    """Bottom-k distinct value hashes of one column: a TakeOrdered job
    over the (new-partition-sized) input — never a full-table pass in
    the incremental flow, which is the point."""
    rows = (
        df.where(F.col(col).isNotNull())
        .select(_kmv_hash(col).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return [r["h"] for r in rows]


def kmv_ndv(sketch: list[int], k: int = KMV_K) -> float:
    """KMV estimator: exact when the sketch never filled; otherwise
    (k-1) scaled by the k-th smallest normalized hash."""
    if len(sketch) < k:
        return float(len(sketch))
    return (k - 1) * KMV_DOMAIN / float(sketch[-1])


def partition_stats(df: DataFrame, k: int = KMV_K) -> dict[str, dict]:
    """``table_stats``-shaped dict for ONE partition/batch, with a
    mergeable ``kmv`` sketch per column and ``approx_ndv`` derived from
    it. One multi-aggregate scan for the scalar stats plus one bounded
    TakeOrdered job per column for the sketches (a maintenance job over
    the new data only)."""
    from .sinks import analyze_table

    out: dict[str, dict] = {}
    for r in analyze_table(df).collect():
        out[r["column"]] = {
            "n_rows": r["n_rows"],
            "n_nulls": r["n_nulls"],
            "min_value": r["min_value"],
            "max_value": r["max_value"],
        }
    for c in out:
        sk = column_kmv(df, c, k)
        out[c]["kmv"] = sk
        out[c]["approx_ndv"] = int(round(kmv_ndv(sk, k)))
    return out


def _cmp_key(v: str):
    try:
        return (0, float(v), "")
    except (TypeError, ValueError):
        return (1, 0.0, v if v is not None else "")


def merge_stats(
    a: dict[str, dict], b: dict[str, dict], k: int = KMV_K
) -> dict[str, dict]:
    """Merge two partition-stats dicts column-wise: counts sum, min/max
    compare (numeric-aware over the stringified values), KMV sketches
    union-and-truncate. approx_ndv is re-derived from the merged sketch
    — NEVER by adding the two estimates (overlapping value sets would
    double-count)."""
    out: dict[str, dict] = {}
    for c in set(a) | set(b):
        if c not in a or c not in b:
            src = a.get(c) or b.get(c)
            out[c] = dict(src)
            continue
        sa, sb = a[c], b[c]
        mins = [v for v in (sa["min_value"], sb["min_value"]) if v is not None]
        maxs = [v for v in (sa["max_value"], sb["max_value"]) if v is not None]
        merged_kmv = sorted(set(sa.get("kmv", [])) | set(sb.get("kmv", [])))[:k]
        out[c] = {
            "n_rows": sa["n_rows"] + sb["n_rows"],
            "n_nulls": sa["n_nulls"] + sb["n_nulls"],
            "min_value": min(mins, key=_cmp_key) if mins else None,
            "max_value": max(maxs, key=_cmp_key) if maxs else None,
            "kmv": merged_kmv,
            "approx_ndv": int(round(kmv_ndv(merged_kmv, k))),
        }
    return out



# ---------------------------------------------------------------------------
# Heavy hitters (Misra-Gries) — the skew signal avg_rows_per_key can't
# see. ndv-based detection misses the classic production failure: a join
# key with MILLIONS of distinct values (avg rows/key ~ 1) where one
# sentinel value ('', 0, 'unknown') holds 10% of the table — the shuffle
# partition for that key alone is what OOMs. Misra-Gries finds every
# value with frequency > n/k in ONE pass with NO shuffle: each partition
# keeps a k-counter summary (mapInPandas), the driver merges the
# (#partitions × k)-row summaries — bounded metadata, like every other
# stats artifact here. Guarantees (Misra-Gries '82): any value with true
# count > n/k survives; reported count is a lower bound within n/k of
# truth. Summaries merge associatively (union counters, then decrement
# by the (k+1)-th largest and drop non-positive), so the same summary
# rows fold into the incremental-ANALYZE flow.
# ---------------------------------------------------------------------------

MG_K = 64


def _mg_fold(counts: dict, k: int) -> dict:
    """Shrink a counter dict to at most k entries, MG-style."""
    if len(counts) <= k:
        return counts
    dec = sorted(counts.values(), reverse=True)[k]
    return {v: c - dec for v, c in counts.items() if c - dec > 0}


def merge_mg(a: dict, b: dict, k: int = MG_K) -> dict:
    out = dict(a)
    for v, c in b.items():
        out[v] = out.get(v, 0) + c
    return _mg_fold(out, k)


def column_heavy_hitters(
    df: DataFrame, col: str, k: int = MG_K
) -> tuple[dict, int]:
    """(summary, n_rows): Misra-Gries k-summary of ``col`` plus the
    non-null row count it covers. One pass, no shuffle: per-partition
    summaries come back as (#partitions × k) rows."""
    import pandas as pd

    def summarize(pdf_iter):
        counts: dict = {}
        n = 0
        for pdf in pdf_iter:
            vals = pdf["v"].dropna()
            n += len(vals)
            for v, c in vals.value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            counts = _mg_fold(counts, MG_K if k <= 0 else k)
        yield pd.DataFrame(
            {"v": list(counts.keys()) + [None],
             "c": list(counts.values()) + [n]}
        )

    rows = (
        df.select(F.col(col).cast("string").alias("v"))
        .mapInPandas(summarize, "v string, c long")
        .collect()
    )
    summary: dict = {}
    n_rows = 0
    for r in rows:
        if r["v"] is None:
            n_rows += r["c"]
        else:
            summary = merge_mg(summary, {r["v"]: r["c"]}, k)
    return summary, n_rows


def hot_key_rows(df: DataFrame, col: str, k: int = MG_K) -> float:
    """Estimated row count of the hottest join-key value (lower bound;
    within n/k of truth). Feed as ``choose_join_strategy``'s
    ``hot_rows`` to catch single-sentinel skew ndv math misses."""
    summary, n = column_heavy_hitters(df, col, k)
    return float(max(summary.values())) if summary else 0.0


def kmv_intersection(
    sa: list[int], sb: list[int], k: int | None = None
) -> tuple[float, float, float]:
    """Set-operation estimates from two KMV sketches (Beyer et al.,
    SIGMOD'07): returns (ndv_union, ndv_intersection, jaccard).

    Each sketch is COMPLETE below its own largest hash, so below
    thr = min(max(sa), max(sb)) the union's hash set is known exactly —
    that prefix is the bottom-|prefix| of A ∪ B, giving a KMV union
    estimate, and the fraction ρ of it present in BOTH sketches
    estimates Jaccard, so |A ∩ B| ≈ ρ · |A ∪ B|. This needs NO
    knowledge of the sketches' build-k (a filled k=64 sketch and a
    complete 64-value set are indistinguishable from the list alone —
    guessing 'complete' silently computes garbage on filled
    sketches). Pass ``k`` only when the build-k is
    known: then two unfilled sketches are provably complete sets and
    every quantity is exact. Cost: pure python over ≤2k ints —
    driver-side metadata, never a data pass."""
    if not sa or not sb:
        # union leg = the non-empty side's OWN estimator: a FILLED sketch
        # represents far more distincts than its k entries, and len()
        # would cap the union at k. kmv_ndv with the module default k
        # keeps the unfilled case exact (= len) and estimates the filled
        # one; pass the caller's k when known for the same reason as below.
        s = sa or sb
        return (kmv_ndv(s, k if k is not None else KMV_K), 0.0, 0.0)
    set_a, set_b = set(sa), set(sb)
    if k is not None and len(sa) < k and len(sb) < k:
        u = set_a | set_b
        inter = float(len(set_a & set_b))  # complete sets: exact
        return (float(len(u)), inter, inter / len(u))
    thr = min(max(sa), max(sb))
    ap = {h for h in set_a if h <= thr}
    bp = {h for h in set_b if h <= thr}
    u = sorted(ap | bp)
    k_u = len(u)
    if k_u <= 1:
        return (float(k_u), 0.0, 0.0)
    ndv_union = kmv_ndv(u, k_u)
    rho = len(ap & bp) / float(k_u)
    return (ndv_union, rho * ndv_union, rho)


def estimate_join_rows(
    stats_a: dict, stats_b: dict, col_a: str, col_b: str | None = None
) -> float:
    """Equi-join output-cardinality estimate from two tables' persisted
    stats (``partition_stats`` / ``"analyze"`` sketch shape): KMV
    intersection gives the matching-key count, and each side contributes
    its average rows-per-key — |A ⋈ B| ≈ ndv(A∩B) · (rows_a/ndv_a) ·
    (rows_b/ndv_b). The uniform-frequency model under-estimates under
    single-key skew; pair with the Misra-Gries ``hot_rows`` signal,
    which exists precisely to catch that case.

    This is the planner input ``choose_join_strategy`` lacks when
    neither side is dim-sized: a tiny estimated output argues for a
    shuffle join over pre-aggregation gymnastics, a huge one flags the
    join as the stage to pre-filter."""
    col_b = col_b or col_a
    a, b = stats_a[col_a], stats_b[col_b]
    ndv_u, ndv_i, _ = kmv_intersection(a.get("kmv", []), b.get("kmv", []))
    if ndv_i <= 0.0:
        return 0.0
    rows_a = a["n_rows"] - a.get("n_nulls", 0)
    rows_b = b["n_rows"] - b.get("n_nulls", 0)
    ndv_a = max(a.get("approx_ndv", 1.0), 1.0)
    ndv_b = max(b.get("approx_ndv", 1.0), 1.0)
    return ndv_i * (rows_a / ndv_a) * (rows_b / ndv_b)


def column_bottom_k_sample(
    df: DataFrame, key_col: str, val_col: str, k: int = 256
) -> list[list]:
    """Deterministic uniform ROW sample of ``val_col``: the k rows whose
    unique ``key_col`` has the smallest md5 hash — a pure function of
    the row set (identical across engines, partitionings, and retries),
    and mergeable: the bottom-k of a union is the bottom-k of the
    parts' bottom-k's (the KMV property, over row keys instead of
    distinct values — hashing the VALUE would collapse duplicates into
    a distinct-value sample and skew quantiles). One TakeOrdered job
    over the input; k rows to the driver — bounded metadata."""
    rows = (
        df.where(F.col(val_col).isNotNull())
        .select(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("smp:"), F.col(key_col).cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
            F.col(val_col).alias("v"),
        )
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return [[r["h"], r["v"]] for r in rows]


def sample_quantile(rows: list[list], q: float) -> float | None:
    """Linear-interpolated quantile over a persisted sample's values
    (the numpy/Spark/DuckDB 'linear' definition)."""
    if not rows:
        return None
    vs = sorted(float(r[1]) for r in rows)
    if len(vs) == 1:
        return vs[0]
    pos = q * (len(vs) - 1)
    lo = int(pos)
    frac = pos - lo
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] * (1.0 - frac) + vs[hi] * frac


# ---------------------------------------------------------------------------
# Count-Min frequency sketch — the incremental/maintained leg of the
# q_events_cms_freq device (sketch family: KMV ndv, Misra-Gries hot
# keys, bottom-k row sample, CMS point frequency). Counters ADD, so the
# sketch folds per batch exactly like the MG summary; estimates
# upper-bound truth for any key, with overcount ~ N/w per depth.
# Hashing matches operators/sketch_ops (md5 "cms{i}:{key}") so the
# maintained sketch and the graded query agree bucket-for-bucket.
# ---------------------------------------------------------------------------

CMS_D = 4
CMS_W = 512


def column_cms(
    df: DataFrame, col: str, d: int = CMS_D, w: int = CMS_W
) -> dict[str, int]:
    """One-pass CMS over ``col``: d x w counters (``"i:bucket" -> n``).
    The d-way explode is map-side and the groupBy partial-combines to
    <= d x w rows per task, so the collect is bounded metadata
    (<= 2,048 rows) regardless of input size."""
    from .functions.hashing import md5_long

    depths = F.array(*[F.lit(i) for i in range(d)])
    keyed = (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("k"), F.explode(depths).alias("i"))
        .select(
            "i",
            F.pmod(
                md5_long(F.concat(F.lit("cms"), F.col("i").cast("string"),
                                  F.lit(":"), F.col("k"))),
                F.lit(w),
            ).alias("bucket"),
        )
    )
    rows = keyed.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    return {f"{r['i']}:{r['bucket']}": int(r["n"]) for r in rows}


def cms_estimate(counters: dict[str, int], key, d: int = CMS_D, w: int = CMS_W) -> int:
    """Point-frequency upper bound for ``key`` = min over depths."""
    import hashlib

    est = None
    for i in range(d):
        b = int(hashlib.md5(f"cms{i}:{key}".encode()).hexdigest()[:15], 16) % w
        n = counters.get(f"{i}:{b}", 0)
        est = n if est is None else min(est, n)
    return int(est or 0)




# ---------------------------------------------------------------------------
# The maintained sketches. Seven planner artifacts stay current by folding
# each ingest batch into a small JSON file instead of rescanning the
# table. They differ only in their scan kernel, their merge and the knobs
# they store, so SKETCHES holds exactly that per kind, and one fold / load
# pair does the rest over commit.fold_json: a batch is scanned only when
# its id is not a replay, the merge and the replay record commit in one
# atomic write, and a stored knob that differs from the requested one
# refuses the fold (counts built with other knobs do not line up). Every
# merge has an identity — the scan of an empty batch — so an empty batch
# is folded like any other and leaves the counts unchanged.
# ---------------------------------------------------------------------------


class Sketch(NamedTuple):
    file: str  # artifact file name, formatted with the fold parameters
    params: dict  # parameter -> default; ``...`` marks a required one
    scan: Callable[[DataFrame, dict], dict]  # one batch -> its own artifact
    merge: Callable[[dict, dict, dict], dict]  # (stored, batch, params) -> artifact
    knobs: tuple[str, ...] = ()  # stored parameters a fold must match
    decode: Callable[[dict], dict] = lambda art: art  # stored JSON -> served form


def _add_counts(a: dict, b: dict) -> dict:
    """Key-wise sum of two count maps; nested maps (histogram groups) are
    summed recursively."""
    out = dict(a)
    for key, n in b.items():
        if isinstance(n, dict):
            out[key] = _add_counts(out.get(key, {}), n)
        else:
            out[key] = out.get(key, 0) + n
    return out


def _merge_counts(field: str) -> Callable[[dict, dict, dict], dict]:
    """Merge of an additive artifact: ``field``'s counts and n_rows add."""
    return lambda a, b, p: {
        **b,
        field: _add_counts(a[field], b[field]),
        "n_rows": a["n_rows"] + b["n_rows"],
    }


def _bins(counts: dict, key: Callable) -> dict:
    """Histogram counts with each bin key mapped through ``key`` (str to
    store as JSON, int to serve), at either grain: group keys stay."""
    out = {}
    for k, v in counts.items():
        if isinstance(v, dict):
            out[k] = _bins(v, key)
        else:
            out[key(k)] = v
    return out


def _scan_mg(df: DataFrame, p: dict) -> dict:
    summary, n_rows = column_heavy_hitters(df, p["col"], p["k"])
    return {"summary": summary, "n_rows": n_rows, "col": p["col"], "k": p["k"]}


def _scan_sample(df: DataFrame, p: dict) -> dict:
    rows = column_bottom_k_sample(df, p["key_col"], p["val_col"], p["k"])
    return {"rows": rows, "k": p["k"], "key_col": p["key_col"], "val_col": p["val_col"]}


def _merge_sample(a: dict, b: dict, p: dict) -> dict:
    """Bottom-k of the union: the k hash-smallest distinct rows."""
    seen = {r[0] for r in a["rows"]}
    rows = a["rows"] + [r for r in b["rows"] if r[0] not in seen]
    return {**b, "rows": sorted(rows, key=lambda r: r[0])[: p["k"]]}


def _scan_cms(df: DataFrame, p: dict) -> dict:
    counters = column_cms(df, p["col"], p["d"], p["w"])
    return {
        "counters": counters,
        "n_rows": sum(counters.values()) // p["d"],  # each row lands once per depth
        "col": p["col"],
        "d": p["d"],
        "w": p["w"],
    }


def _scan_hist(df: DataFrame, p: dict) -> dict:
    """One batch's fixed-width histogram, at the group grain when the
    parameters name a ``group_col``."""
    knobs = (p["width"], p["bins"], p["offset"])
    if "group_col" in p:
        counts = column_fixed_histogram_grouped(df, p["group_col"], p["col"], *knobs)
        n_rows = sum(sum(c.values()) for c in counts.values())
        grain = {"group_col": p["group_col"]}
    else:
        counts = column_fixed_histogram(df, p["col"], *knobs)
        n_rows = sum(counts.values())
        grain = {}
    return {
        "counts": _bins(counts, str),
        "n_rows": n_rows,
        **grain,
        "col": p["col"],
        "width": p["width"],
        "bins": p["bins"],
        "offset": float(p["offset"]),
    }


def _decode_hist(art: dict) -> dict:
    return {**art, "counts": _bins(art["counts"], int)}


def _scan_checksum(df: DataFrame, p: dict) -> dict:
    from .operators.dq import table_checksum  # operators import this module

    row = table_checksum(df, p["name"], p["round_doubles"]).collect()[0]
    return {
        "table_name": p["name"],
        "n_rows": int(row["n_rows"]),
        "checksum": int(row["checksum"]),
        "encoding": "v1",
    }


def _merge_checksum(a: dict, b: dict, p: dict) -> dict:
    from .operators.dq import _CHK_MOD

    return {
        **b,
        "n_rows": a["n_rows"] + b["n_rows"],
        "checksum": (a["checksum"] + b["checksum"]) % _CHK_MOD,
    }


_HIST = {"col": ..., "width": HIST_WIDTH, "bins": HIST_BINS, "offset": 0.0}
_HIST_KNOBS = ("width", "bins", "offset")

SKETCHES: dict[str, Sketch] = {
    # KMV table stats: the column -> stats dict the join gates read
    "analyze": Sketch(
        "{name}.json",
        {"k": KMV_K},
        lambda df, p: partition_stats(df, p["k"]),
        lambda a, b, p: merge_stats(a, b, p["k"]),
        decode=lambda art: {c: s for c, s in art.items() if c != META},
    ),
    # Misra-Gries hot keys: choose_join_strategy's hot_rows
    "hotkeys": Sketch(
        "{name}__hh_{col}.json",
        {"col": ..., "k": MG_K},
        _scan_mg,
        lambda a, b, p: {
            **b,
            "summary": merge_mg(a["summary"], b["summary"], p["k"]),
            "n_rows": a["n_rows"] + b["n_rows"],
        },
        knobs=("k",),
    ),
    # bottom-k row sample: sample_quantile and range selectivity
    "sample": Sketch(
        "{name}__smp_{val_col}.json",
        {"key_col": ..., "val_col": ..., "k": 256},
        _scan_sample,
        _merge_sample,
        knobs=("k",),
    ),
    # Count-Min point frequencies: cms_estimate
    "cms": Sketch(
        "{name}__cms_{col}.json",
        {"col": ..., "d": CMS_D, "w": CMS_W},
        _scan_cms,
        _merge_counts("counters"),
        knobs=("d", "w"),
    ),
    # fixed-width histogram: served_hist_quantiles, fixed_hist_rows
    "hist": Sketch(
        "{name}__hist_{col}.json",
        _HIST,
        _scan_hist,
        _merge_counts("counts"),
        _HIST_KNOBS,
        _decode_hist,
    ),
    # grouped histogram: served_group_quantiles
    "ghist": Sketch(
        "{name}__ghist_{group_col}_{col}.json",
        {"group_col": ..., **_HIST},
        _scan_hist,
        _merge_counts("counts"),
        _HIST_KNOBS,
        _decode_hist,
    ),
    # checksum manifest: the migration-validation digest (operators/dq)
    "checksum": Sketch(
        "{name}__checksum.json",
        {"round_doubles": None},
        _scan_checksum,
        _merge_checksum,
    ),
}


def fold_sketch(
    kind: str,
    stats_dir: str,
    name: str,
    batch_df: DataFrame,
    batch_id: int | str | None = None,
    **params,
) -> dict:
    """Fold ``batch_df`` into the ``kind`` sketch of table ``name`` under
    ``stats_dir``; returns the committed artifact in its served form.

    ``params`` are the kind's ``SKETCHES[kind].params``. ``batch_id`` is
    ``commit.fold_json``'s replay guard — a stream batch id or a batch
    file's path digest; a replay is not scanned and returns the stored
    artifact, and None folds unguarded. A stored knob that differs from
    the requested one raises ValueError.

    Single writer per artifact: the read-modify-write is not locked, so
    one stream or one sequence of CLI folds owns an artifact at a time."""
    spec = SKETCHES[kind]
    p = {**spec.params, **params, "name": name}
    bad = set(params) - set(spec.params) | {k for k, v in p.items() if v is ...}
    if bad:
        raise TypeError(f"{kind} sketch: unknown or missing parameters {sorted(bad)}")

    def fold(prior: dict | None) -> dict:
        fresh = spec.scan(batch_df, p)
        return fresh if prior is None else spec.merge(prior, fresh, p)

    def check(stored: dict) -> None:
        have = {k: stored.get(k, spec.params[k]) for k in spec.knobs}
        want = {k: p[k] for k in spec.knobs}
        if have != want:
            raise ValueError(f"{kind} knob mismatch: stored {have} vs requested {want}")

    path = os.path.join(stats_dir, spec.file.format(**p))
    return spec.decode(fold_json(path, batch_id, fold, check=check))


def load_sketch(kind: str, stats_dir: str, name: str, **coords) -> dict | None:
    """The stored ``kind`` sketch of table ``name`` in its served form —
    with its ``__meta__`` replay record, except for "analyze", whose
    served form is column stats only; None when absent. ``coords`` are
    the parameters in the kind's file name (``col``, ``val_col``,
    ``group_col``)."""
    spec = SKETCHES[kind]
    raw = read_json(os.path.join(stats_dir, spec.file.format(name=name, **coords)))
    return None if raw is None else spec.decode(raw)
