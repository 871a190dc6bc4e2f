"""Dimensional modeling: slowly-changing-dimension (SCD type 2) history.

``q_user_state_scd2`` compacts each user's event stream into validity
intervals of their event-type state — the Kimball SCD2 build every
warehouse runs to turn a change log into an as-of-joinable dimension:
one row per (user, state run) carrying [valid_from, valid_to) and a
current flag, with consecutive duplicates collapsed (the "row only on
change" rule).

Skew discipline (the q_events_sessions / q_events_transitions device):
nothing here windows over a user's whole history in one task.

- CHANGE DETECTION runs per (user, day-chunk): the within-chunk lag
  finds intra-day state flips; chunk-boundary flips are recovered at
  day grain from each chunk's ordered first/last state (min_by/max_by
  over the unique (ts, event_id) order). Within + boundary changes are
  exactly the global change set because chunks are time-contiguous.
- INTERVAL CLOSING runs at CHANGE grain, chunk-split the same way:
  the within-chunk lead closes intra-day runs; the last run of a chunk
  closes against the next change-bearing chunk's first change ts via a
  day-grain merge window (rows = change-bearing days per user).

A user who flips state on every event degenerates change grain to
event grain — the chunks still bound every window partition at one
day, which is the guarantee that matters.

The DuckDB oracle states the same semantics with the direct global
formulation (lag for change detection, lead to close); pytest pins a
planted fixture (flip runs, duplicate collapse, tie ordering,
open-ended current rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cut, table
from ..registry import register

_SCD2_CTE = """
ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
), hist AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id) AS valid_to,
         CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from, event_id)
                   IS NULL THEN 1 ELSE 0 END AS is_current
  FROM changes
)
"""

_SCD2_ORACLE = f"""
WITH {_SCD2_CTE}
SELECT user_id, state, valid_from, valid_to, is_current FROM hist
"""


@register("q_user_state_scd2", oracle=_SCD2_ORACLE)
def q_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals of each user's event-type state:
    (user_id, state, valid_from, valid_to, is_current), consecutive
    duplicates collapsed, last run open-ended. Chunk-split windows
    throughout — see module doc."""
    return scd2_from_events(table(spark, sf_dir, "events"))


def scd2_from_events(ev: DataFrame) -> DataFrame:
    """The SCD2 build as a relation transform — shared by the graded
    query (whole table) and ``streaming.file_sink.stream_scd2_maintenance``
    (per micro-batch, merged against the persisted dimension)."""
    chunked = ev.withColumn("chunk", F.date_trunc("day", "ts"))
    order_key = F.struct("ts", "event_id")

    # --- phase A: change detection, per (user, day-chunk) ---
    w_local = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    local = chunked.select(
        "user_id",
        "chunk",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w_local).alias("prev_local"),
    )
    bounds = chunked.groupBy("user_id", "chunk").agg(
        F.min_by("event_type", order_key).alias("first_type"),
        F.max_by("event_type", order_key).alias("last_type"),
    )
    w_day = Window.partitionBy("user_id").orderBy("chunk")
    prev_day_last = bounds.select(
        "user_id",
        "chunk",
        F.lag("last_type").over(w_day).alias("prev_chunk_last"),
    )
    # first event of a chunk compares against the previous chunk's last
    # state (day-grain join: rows = active days per user)
    # cut: multi-consumer — both phase-B branches (interval closing and
    # chunk first-change bounds) would each re-run the whole phase-A
    # pipeline; the change relation is state-transition grain.
    changes = cut(
        local.join(prev_day_last, ["user_id", "chunk"])
        .select(
            "user_id",
            "chunk",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
            F.coalesce("prev_local", "prev_chunk_last").alias("prev_state"),
        )
        .where(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("state"))
        )
    )

    # --- phase B: interval closing, at change grain, chunk-split ---
    w_close = Window.partitionBy("user_id", "chunk").orderBy(
        "valid_from", "event_id"
    )
    closed_local = changes.select(
        "user_id",
        "chunk",
        "state",
        "valid_from",
        "event_id",
        F.lead("valid_from").over(w_close).alias("to_local"),
    )
    cbounds = changes.groupBy("user_id", "chunk").agg(
        F.min(F.struct("valid_from", "event_id")).alias("first_change")
    )
    w_cday = Window.partitionBy("user_id").orderBy("chunk")
    next_day_first = cbounds.select(
        "user_id",
        "chunk",
        F.lead("first_change.valid_from").over(w_cday).alias("next_chunk_from"),
    )
    out = (
        closed_local.join(next_day_first, ["user_id", "chunk"])
        .select(
            "user_id",
            "state",
            "valid_from",
            F.coalesce("to_local", "next_chunk_from").alias("valid_to"),
        )
    )
    return out.select(
        "user_id",
        "state",
        "valid_from",
        "valid_to",
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q_user_scd2_type1_overlay — Kimball's type-2-with-type-1-overlay (the
# "hybrid / type 6" pattern, r10 verdict #7b): the state history stays
# type 2 (validity intervals), while a volatile descriptive attribute —
# here the user's CURRENT value tier — is type 1: its latest value
# overwrites EVERY history row, so analysts slice full history by
# today's tier without re-stating old rows. The standard warehouse
# implementation is exactly this: rebuild/maintain the type-2 core,
# then a key-grain join stamps the type-1 columns on.
# ---------------------------------------------------------------------------

_TIER_SQL = (
    "CASE WHEN v >= 60 THEN 'high' WHEN v >= 20 THEN 'mid' ELSE 'low' END"
)

_OVERLAY_ORACLE = f"""
WITH {_SCD2_CTE}
, latest AS (
  SELECT user_id, v FROM (
    SELECT user_id, value AS v,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT h.user_id, h.state, h.valid_from, h.valid_to, h.is_current,
       {_TIER_SQL} AS cur_tier
FROM hist h JOIN latest l ON h.user_id = l.user_id
"""


@register("q_user_scd2_type1_overlay", oracle=_OVERLAY_ORACLE)
def q_user_scd2_type1_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 state history with a type-1 current-value-tier overlay:
    every validity interval carries the tier of the user's LATEST event
    value (bands at 20/60).

    Scale shape: the type-2 core is the chunk-split scd2_from_events
    build (no per-user global windows); the type-1 attribute is one
    partial-agg ``max_by(value, (ts, event_id))`` per user and a
    user-grain equi-join onto the runs — no new window anywhere. Parity:
    the latest-event pick is tie-broken on the unique (ts, event_id)
    pair (Spark max_by over a struct ≡ the oracle's DESC row_number),
    and the tier banding compares raw doubles exactly — the emitted
    column is a string, no float arithmetic crosses the hash."""
    ev = table(spark, sf_dir, "events")
    runs = scd2_from_events(ev)
    latest = ev.groupBy("user_id").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("v")
    )
    cur = latest.select("user_id", F.expr(_TIER_SQL).alias("cur_tier"))
    return runs.join(cur, "user_id").select(
        "user_id", "state", "valid_from", "valid_to", "is_current", "cur_tier"
    )
