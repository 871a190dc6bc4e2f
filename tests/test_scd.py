"""SCD2 build semantics: run collapse, boundary crossing, tiling."""

from __future__ import annotations

import os

import pandas as pd

from sentiment_analysis_vector_search_spark.operators.scd import (
    q_user_state_scd2,
)


def test_scd2_parity(spark, sf_dir):
    from tests.parity import assert_parity

    assert_parity(spark, "q_user_state_scd2", sf_dir)


def test_scd2_planted_runs_and_boundaries(spark, tmp_path):
    """One user flips state across a midnight boundary, repeats a state
    (run collapse), and holds the last state (open interval); a second
    user never changes (single current row)."""
    T = pd.Timestamp
    rows = [
        # user 1: view (2 events, one run) -> click (crosses midnight,
        # still ONE run) -> view again (new run, state may repeat later)
        (1, T("2026-01-01 10:00:00"), 1, "view"),
        (2, T("2026-01-01 11:00:00"), 1, "view"),
        (3, T("2026-01-01 23:30:00"), 1, "click"),
        (4, T("2026-01-02 00:30:00"), 1, "click"),
        (5, T("2026-01-02 09:00:00"), 1, "view"),
        # user 2: constant state
        (6, T("2026-01-01 08:00:00"), 2, "signup"),
        (7, T("2026-01-03 08:00:00"), 2, "signup"),
    ]
    df = pd.DataFrame(
        [
            {
                "event_id": e,
                "ts": t,
                "user_id": u,
                "event_type": s,
                "value": 1.0,
                "props": "{}",
            }
            for e, t, u, s in rows
        ]
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.to_parquet(os.path.join(d, "events.parquet"), index=False)

    got = sorted(
        (
            (r["user_id"], r["state"], str(r["valid_from"]),
             str(r["valid_to"]), r["is_current"])
            for r in q_user_state_scd2(spark, d).collect()
        )
    )
    assert got == [
        (1, "click", "2026-01-01 23:30:00", "2026-01-02 09:00:00", 0),
        (1, "view", "2026-01-01 10:00:00", "2026-01-01 23:30:00", 0),
        (1, "view", "2026-01-02 09:00:00", "None", 1),
        (2, "signup", "2026-01-01 08:00:00", "None", 1),
    ]


def test_scd2_invariants_on_corpus(spark, sf_dir):
    """Tiling invariants at test SF: per user exactly one current row,
    intervals tile without gaps (each valid_to equals the next
    valid_from), and consecutive states always differ."""
    rows = q_user_state_scd2(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rs) == 1
        assert rs[-1]["valid_to"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"], (u, a, b)
            assert a["state"] != b["state"], (u, a, b)


def _write_single(df, tmp_path, tag, dst_dir, name):
    import os
    import shutil

    stage = str(tmp_path / f"_stage_{tag}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copy(os.path.join(stage, part), os.path.join(dst_dir, name))


def _scd_table(spark, scd_dir):
    return {
        (r["user_id"], r["state"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in spark.read.parquet(scd_dir)
        .select("user_id", "state", "valid_from", "valid_to", "is_current")
        .collect()
    }


def test_stream_scd2_equals_rebuild_and_replay_noop(spark, sf_dir, tmp_path):
    """Event batches applied through stream_scd2_maintenance must produce
    a dimension identical to the one-shot build over everything ingested
    (in-order contract); a re-drain is a no-op; a fresh-checkpoint replay
    of already-applied batches is skipped by the per-bucket batch-id
    record; and a later batch catches the table up to a full rebuild."""
    import os

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.catalog import (
        normalize_event_ts,
        read_events_raw,
    )
    from sentiment_analysis_vector_search_spark.operators.scd import (
        scd2_from_events,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_scd2_maintenance,
    )

    ev = normalize_event_ts(read_events_raw(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    qs = ev.select(
        F.expr("percentile(cast(ts as double), 0.4)").alias("a"),
        F.expr("percentile(cast(ts as double), 0.8)").alias("b"),
    ).collect()[0]
    c1 = F.col("ts").cast("double")
    src = str(tmp_path / "src")
    _write_single(ev.where(c1 <= qs["a"]), tmp_path, "a", src, "events_a.parquet")
    _write_single(
        ev.where((c1 > qs["a"]) & (c1 <= qs["b"])),
        tmp_path, "b", src, "events_b.parquet",
    )

    scd_dir = str(tmp_path / "scd")
    ckpt = str(tmp_path / "ckpt")
    stream_scd2_maintenance(spark, src, scd_dir, ckpt)

    want_2 = {
        (r["user_id"], r["state"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in scd2_from_events(ev.where(c1 <= qs["b"])).collect()
    }
    assert _scd_table(spark, scd_dir) == want_2

    # re-drain: no new files -> unchanged
    stream_scd2_maintenance(spark, src, scd_dir, ckpt)
    assert _scd_table(spark, scd_dir) == want_2

    # fresh-checkpoint replay: the checkpointed offsets are gone, the
    # same files re-deliver as the same batch ids — the per-bucket
    # _applied.json record must skip them all
    stream_scd2_maintenance(spark, src, scd_dir, str(tmp_path / "ckpt2"))
    assert _scd_table(spark, scd_dir) == want_2

    # third batch catches up to the full one-shot build
    _write_single(ev.where(c1 > qs["b"]), tmp_path, "c", src, "events_c.parquet")
    stream_scd2_maintenance(spark, src, scd_dir, ckpt)
    want_all = {
        (r["user_id"], r["state"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in scd2_from_events(ev).collect()
    }
    assert _scd_table(spark, scd_dir) == want_all
    # per-bucket records exist
    assert any(
        os.path.exists(os.path.join(scd_dir, d, "_applied.json"))
        for d in os.listdir(scd_dir)
        if d.startswith("bucket=")
    )


def test_stream_scd2_swap_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the two swap renames leaves ``bucket=N`` missing,
    displaced into the hidden ``_swap`` directory with all its history.
    The recovery pass before each batch must restore it, so the next
    apply still converges to the full rebuild."""
    import os

    from sentiment_analysis_vector_search_spark.commit import SWAP
    from tests.swaps import torn_swap

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.catalog import (
        normalize_event_ts,
        read_events_raw,
    )
    from sentiment_analysis_vector_search_spark.operators.scd import (
        scd2_from_events,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_scd2_maintenance,
    )

    ev = normalize_event_ts(read_events_raw(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    cut = ev.select(
        F.expr("percentile(cast(ts as double), 0.5)").alias("c")
    ).collect()[0]["c"]
    c = F.col("ts").cast("double")
    src = str(tmp_path / "src")
    _write_single(ev.where(c <= cut), tmp_path, "a", src, "events_a.parquet")
    scd_dir = str(tmp_path / "scd")
    ckpt = str(tmp_path / "ckpt")
    stream_scd2_maintenance(spark, src, scd_dir, ckpt)

    # simulate the crash window: first rename done, second never ran
    bucket = next(
        d for d in sorted(os.listdir(scd_dir)) if d.startswith("bucket=")
    )
    torn_swap(scd_dir, (bucket,), (bucket,))

    _write_single(ev.where(c > cut), tmp_path, "b", src, "events_b.parquet")
    stream_scd2_maintenance(spark, src, scd_dir, ckpt)
    assert not os.path.exists(os.path.join(scd_dir, SWAP))
    want = {
        (r["user_id"], r["state"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in scd2_from_events(ev).collect()
    }
    assert _scd_table(spark, scd_dir) == want

    # the leftover-after-success shape: both dst and a displaced copy
    os.makedirs(os.path.join(scd_dir, SWAP, "old", bucket), exist_ok=True)
    stream_scd2_maintenance(spark, src, scd_dir, ckpt)  # no new files
    assert not os.path.exists(os.path.join(scd_dir, SWAP))
    assert _scd_table(spark, scd_dir) == want


def test_stream_scd2_bucket_pin_and_bounded_record(spark, sf_dir, tmp_path):
    """r10 advice (low x2): an apply with a different --buckets than the
    persisted layout must fail fast, and the per-bucket applied record
    stays bounded ({"max_applied": N}) while legacy list records still
    read as their max (fresh-checkpoint replay stays a no-op)."""
    import json
    import os

    import pytest

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.catalog import (
        normalize_event_ts,
        read_events_raw,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_scd2_maintenance,
    )

    ev = normalize_event_ts(read_events_raw(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    cut = ev.select(
        F.expr("percentile(cast(ts as double), 0.5)").alias("c")
    ).collect()[0]["c"]
    c = F.col("ts").cast("double")
    src = str(tmp_path / "src")
    _write_single(ev.where(c <= cut), tmp_path, "a", src, "events_a.parquet")
    _write_single(ev.where(c > cut), tmp_path, "b", src, "events_b.parquet")
    scd_dir = str(tmp_path / "scd")
    stream_scd2_maintenance(spark, src, scd_dir, str(tmp_path / "ckpt"))

    # bounded record: a dict with the max applied batch id only
    recs = [
        os.path.join(scd_dir, d, "_applied.json")
        for d in os.listdir(scd_dir)
        if d.startswith("bucket=")
    ]
    assert recs
    for p in recs:
        if os.path.exists(p):
            with open(p) as fh:
                rec = json.load(fh)
            assert set(rec) == {"max_applied"} and isinstance(
                rec["max_applied"], int
            )

    # mismatched bucket count refuses before touching anything
    with pytest.raises(ValueError, match="n_buckets"):
        stream_scd2_maintenance(
            spark, src, scd_dir, str(tmp_path / "ckpt_bad"), n_buckets=4
        )

    # legacy list-form record: fresh-checkpoint replay still skips
    before = _scd_table(spark, scd_dir)
    with open(recs[0]) as fh:
        mx = json.load(fh)["max_applied"]
    with open(recs[0], "w") as fh:
        json.dump(list(range(mx + 1)), fh)
    stream_scd2_maintenance(spark, src, scd_dir, str(tmp_path / "ckpt2"))
    assert _scd_table(spark, scd_dir) == before


def test_cli_scd2_build_and_apply(spark, sf_dir, tmp_path, capsys):
    """CLI: one-shot build, then a streamed apply of a later batch file
    on top of the built dimension — the summary line reflects the merge
    and the table equals the full rebuild."""
    import json

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.catalog import (
        normalize_event_ts,
        read_events_raw,
    )
    from sentiment_analysis_vector_search_spark.operators.scd import (
        scd2_from_events,
    )

    ev = normalize_event_ts(read_events_raw(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    cut = ev.select(
        F.expr("percentile(cast(ts as double), 0.6)").alias("c")
    ).collect()[0]["c"]
    c = F.col("ts").cast("double")

    # build from the first 60% staged as its own sf-dir
    early_dir = str(tmp_path / "early")
    _write_single(ev.where(c <= cut), tmp_path, "e", early_dir, "events.parquet")
    scd_dir = str(tmp_path / "scd")
    rc = main(["scd2", "build", scd_dir, "--events", early_dir])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["open_rows"] == built["users"]

    # apply the tail as a streamed batch
    src = str(tmp_path / "src")
    _write_single(ev.where(c > cut), tmp_path, "t", src, "events_t.parquet")
    rc = main(
        [
            "scd2", "apply", scd_dir,
            "--events", src,
            "--checkpoint", str(tmp_path / "ck"),
        ]
    )
    assert rc == 0
    applied = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert applied["rows"] >= built["rows"]

    got = _scd_table(spark, scd_dir)
    want = {
        (r["user_id"], r["state"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in scd2_from_events(ev).collect()
    }
    assert got == want
