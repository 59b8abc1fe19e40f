"""Tests: native session windows (batch) + custom stateful sessionizer
(streaming with per-key state across microbatches)."""

from __future__ import annotations

import json
import os
from datetime import datetime

from dbt_gdpr_anonymizer_spark.streaming.anonymize import drain
from dbt_gdpr_anonymizer_spark.streaming.sessionize import (
    session_window_rollup,
    streaming_sessionize_custom,
)


def ts(s):
    return datetime.fromisoformat(s)


def test_session_window_rollup_batch(spark):
    events = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00")),
            (1, ts("2024-01-01 10:10:00")),  # same session (gap 10m < 30m)
            (1, ts("2024-01-01 12:00:00")),  # new session
            (2, ts("2024-01-01 09:00:00")),
        ],
        "user_id long, ts timestamp",
    )
    out = sorted(
        session_window_rollup(events).collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert [(r["user_id"], r["n_events"]) for r in out] == [(1, 2), (1, 1), (2, 1)]
    # session end = last event + gap
    assert out[0]["session_end"] == ts("2024-01-01 10:40:00")


def test_streaming_sessionize_custom_state_across_batches(spark, tmp_path):
    """Two microbatches (maxFilesPerTrigger=1): the open session from batch
    1 must close and emit when batch 2's event arrives past the gap —
    proving state survives across batches."""
    drop = tmp_path / "events"
    drop.mkdir()
    b1 = [
        {"user_id": 1, "ts": "2024-01-01T10:00:00.000000", "event_id": 1},
        {"user_id": 1, "ts": "2024-01-01T10:05:00.000000", "event_id": 2},
    ]
    b2 = [{"user_id": 1, "ts": "2024-01-01T13:00:00.000000", "event_id": 3}]
    f1, f2 = drop / "a_batch1.jsonl", drop / "b_batch2.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in b1) + "\n")
    f2.write_text("\n".join(json.dumps(r) for r in b2) + "\n")
    # The file source orders microbatches by modification time; both writes
    # land in the same millisecond, so pin mtimes to make batch order
    # deterministic (batch1 strictly older).
    os.utime(f1, (1_700_000_000, 1_700_000_000))
    os.utime(f2, (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(drop))
    )
    rows = drain(streaming_sessionize_custom(stream, gap_minutes=30)).collect()
    assert len(rows) == 1  # only the CLOSED session; batch-2 session stays open
    r = rows[0]
    assert r["user_id"] == 1
    assert r["session_start"] == ts("2024-01-01 10:00:00")
    assert r["session_end"] == ts("2024-01-01 10:05:00")
    assert r["n_events"] == 2
