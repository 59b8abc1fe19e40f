"""Deterministic end-to-end test of the applyInPandasWithState session
operator: a file-source stream replayed batch by batch (``replay_batches``
pins each row's micro-batch) so watermark advancement — and therefore
which sessions close — is exactly reproducible."""

from __future__ import annotations

from datetime import datetime

from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
    drain,
    replay_batches,
    write_stream_parquet,
)
from dbt_gdpr_anonymizer_spark.streaming.sessionize import stream_sessionize


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _replay(spark, rows, directory):
    """``rows`` are (batch, user_id, ts); batch i is micro-batch i."""
    df = spark.createDataFrame(rows, "b int, user_id long, ts timestamp")
    return replay_batches(df, "b", str(directory))


def _sessions(spark, rows, directory):
    stream = _replay(spark, rows, directory)
    return sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in drain(
            stream_sessionize(stream, gap_minutes=30, watermark="30 minutes")
        ).collect()
    )


def test_stream_sessionize_closes_by_gap_and_timeout(spark, tmp_path):
    got = _sessions(
        spark,
        [
            # batch 0: user 1 has a 2-event burst; user 2 a single event
            (0, 1, ts("2024-01-01 10:00:00")),
            (0, 1, ts("2024-01-01 10:05:00")),
            (0, 2, ts("2024-01-01 10:00:00")),
            # batch 1: user 1 returns 3h later -> closes their first
            # session in-stream and pushes the watermark far past user
            # 2's timeout
            (1, 1, ts("2024-01-01 13:00:00")),
        ],
        tmp_path,
    )
    # user 1's burst closed in-stream by the 13:00 event; user 2's
    # singleton closed by event-time timeout once the watermark passed
    # 10:30. user 1's 13:00 session is still open -> NOT emitted.
    assert got == [
        (1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 2),
        (2, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00"), 1),
    ]


def test_stream_sessionize_multiple_gaps_one_batch(spark, tmp_path):
    """Several gap-separated bursts arriving in ONE batch close all but
    the last immediately (in-stream closure needs no watermark)."""
    got = _sessions(
        spark,
        [
            (0, 5, ts("2024-01-01 08:00:00")),
            (0, 5, ts("2024-01-01 08:10:00")),
            (0, 5, ts("2024-01-01 09:30:00")),  # > 30 min after 08:10
            (0, 5, ts("2024-01-01 11:00:00")),  # > 30 min after 09:30
        ],
        tmp_path,
    )
    assert got == [
        (5, ts("2024-01-01 08:00:00"), ts("2024-01-01 08:10:00"), 2),
        (5, ts("2024-01-01 09:30:00"), ts("2024-01-01 09:30:00"), 1),
    ]


def test_stream_sessionize_checkpoint_resume_exactly_once(spark, tmp_path):
    """Kill-and-resume: drain batch 0 with a checkpoint, stop, then resume
    the SAME checkpoint after batch 1 lands. State (the open session) must
    survive the restart and the final output must equal the single-run
    result — no duplicated or lost sessions (exactly-once file sink)."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_drain(rows):
        sessions = stream_sessionize(
            _replay(spark, rows, src), gap_minutes=30, watermark="30 minutes"
        )
        write_stream_parquet(
            sessions, out, ckpt, available_now=True
        ).awaitTermination()

    # drains batch 0; both sessions still open -> nothing final
    run_drain(
        [
            (0, 1, ts("2024-01-01 10:00:00")),
            (0, 1, ts("2024-01-01 10:05:00")),
            (0, 2, ts("2024-01-01 10:00:00")),
        ]
    )
    first = spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events bigint"
    ).parquet(out)
    assert first.count() == 0

    # resume from checkpoint: state survived the restart
    run_drain([(1, 1, ts("2024-01-01 13:00:00"))])
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 2),
        (2, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00"), 1),
    }


def test_stream_sessionize_late_ingap_event_extends_start_backwards(
    spark, tmp_path
):
    """A late event that is EARLIER than the open session's first-seen
    event but within the gap must pull session_start backwards (the state
    function handles late rows itself — applyInPandasWithState does not
    watermark-filter its input)."""
    got = _sessions(
        spark,
        [
            # batch 0: user 7 at 10:00 (watermark after this batch: 09:30)
            (0, 7, ts("2024-01-01 10:00:00")),
            # batch 1: late 09:50 event — within the 30-min gap, before start
            (1, 7, ts("2024-01-01 09:50:00")),
            # batch 2: 13:00 closes the session in-stream
            (2, 7, ts("2024-01-01 13:00:00")),
        ],
        tmp_path,
    )
    assert got == [
        (7, ts("2024-01-01 09:50:00"), ts("2024-01-01 10:00:00"), 2),
    ]


def test_stream_sessionize_very_late_new_key_does_not_kill_query(
    spark, tmp_path
):
    """A NEW key arriving entirely below watermark − gap would compute a
    timeout timestamp ≤ the current watermark — unclamped, Spark throws
    IllegalArgumentException and kills the query. Clamped, the session
    closes at the next watermark advance."""
    got = _sessions(
        spark,
        [
            # batch 0: user 1 at 12:00 pushes the watermark to 11:30
            (0, 1, ts("2024-01-01 12:00:00")),
            # batch 1: user 9's only event at 08:00 — 08:30 timeout < 11:30
            (1, 9, ts("2024-01-01 08:00:00")),
            # batch 2: 15:00 advances the watermark, flushing user 9's session
            (2, 1, ts("2024-01-01 15:00:00")),
        ],
        tmp_path,
    )
    # user 9's very-late singleton emitted (not crashed); user 1's first
    # session closed in-stream by the 15:00 event
    assert got == [
        (1, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1),
        (9, ts("2024-01-01 08:00:00"), ts("2024-01-01 08:00:00"), 1),
    ]


def test_emit_sessions_empty_and_exact():
    """An empty row list gives an empty, typed frame (it raised IndexError
    when the rows went through a 1-D array); rows keep exact micros."""
    from dbt_gdpr_anonymizer_spark.streaming.sessionize import _emit_sessions

    empty = _emit_sessions(7, [])
    assert list(empty.columns) == [
        "user_id", "session_start", "session_end", "n_events"
    ]
    assert len(empty) == 0
    assert str(empty["session_start"].dtype) == "datetime64[us]"
    one = _emit_sessions(7, [(1_000_001, 2_000_003, 4)])
    assert one["user_id"].tolist() == [7]
    assert one["session_start"].astype("int64").tolist() == [1_000_001]
    assert one["session_end"].astype("int64").tolist() == [2_000_003]
    assert one["n_events"].tolist() == [4]
