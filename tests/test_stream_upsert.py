"""Units for the foreachBatch CDC upsert sink: merge semantics across
micro-batches and exactly-once state after a kill-and-resume."""

from __future__ import annotations

from datetime import datetime

from dbt_gdpr_anonymizer_spark.streaming.anonymize import replay_batches
from dbt_gdpr_anonymizer_spark.streaming.upsert import (
    latest_state,
    stream_upsert_parquet,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _drain(spark, rows, src, target, ckpt):
    """Upsert ``rows`` — (batch, user_id, event_type, ts, event_id), batch
    i arriving as micro-batch i — into ``target``."""
    df = spark.createDataFrame(
        rows,
        "b int, user_id long, event_type string, ts timestamp, event_id long",
    )
    stream_upsert_parquet(
        replay_batches(df, "b", src),
        target,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        checkpoint_dir=ckpt,
    ).awaitTermination()


def test_stream_upsert_latest_wins_within_and_across_batches(
    spark, tmp_path
):
    src, target, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "target"),
        str(tmp_path / "ckpt"),
    )
    _drain(
        spark,
        [
            # batch 0: user 1 twice (in-batch dedup must keep the later),
            # user 2
            (0, 1, "signup", ts("2024-01-01 10:00:00"), 1),
            (0, 1, "click", ts("2024-01-01 10:05:00"), 2),
            (0, 2, "view", ts("2024-01-01 10:00:00"), 3),
            # batch 1: user 1 updates again; user 3 appears
            (1, 1, "purchase", ts("2024-01-01 11:00:00"), 4),
            (1, 3, "view", ts("2024-01-01 11:00:00"), 5),
        ],
        src,
        target,
        ckpt,
    )
    got = {
        r["user_id"]: (r["event_type"], r["event_id"])
        for r in latest_state(spark, target).collect()
    }
    assert got == {1: ("purchase", 4), 2: ("view", 3), 3: ("view", 5)}


def test_stream_upsert_kill_and_resume_exactly_once(spark, tmp_path):
    src, target, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "target"),
        str(tmp_path / "ckpt"),
    )
    # first run commits state for batch 0
    _drain(
        spark, [(0, 1, "signup", ts("2024-01-01 10:00:00"), 1)], src, target, ckpt
    )
    v1 = latest_state(spark, target).collect()
    assert {(r["user_id"], r["event_id"]) for r in v1} == {(1, 1)}

    # resume from the SAME checkpoint: only batch 1 replays, merging over
    # batch 0's committed state — no duplicated or lost keys
    _drain(
        spark,
        [
            (1, 1, "purchase", ts("2024-01-01 12:00:00"), 2),
            (1, 2, "view", ts("2024-01-01 12:00:00"), 3),
        ],
        src,
        target,
        ckpt,
    )
    got = {
        r["user_id"]: r["event_id"]
        for r in latest_state(spark, target).collect()
    }
    assert got == {1: 2, 2: 3}
