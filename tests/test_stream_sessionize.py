"""Deterministic end-to-end test of the applyInPandasWithState session
operator: a file-source stream drained file-by-file (maxFilesPerTrigger=1,
arrival order pinned via mtimes) so watermark advancement — and therefore
which sessions close — is exactly reproducible."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.streaming.sessionize import stream_sessionize


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _write_batch(spark, rows, path, mtime):
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))
    os.utime(path, (mtime, mtime))


def test_stream_sessionize_closes_by_gap_and_timeout(spark, tmp_path):
    src = tmp_path / "src"
    # file 1: user 1 has a 2-event burst; user 2 a single event
    _write_batch(
        spark,
        [
            (1, ts("2024-01-01 10:00:00")),
            (1, ts("2024-01-01 10:05:00")),
            (2, ts("2024-01-01 10:00:00")),
        ],
        str(src / "f1"),
        1_000,
    )
    # file 2: user 1 returns 3h later -> closes their first session
    # in-stream and pushes the watermark far past user 2's timeout
    _write_batch(
        spark,
        [(1, ts("2024-01-01 13:00:00"))],
        str(src / "f2"),
        2_000,
    )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
    )
    sessions = stream_sessionize(stream, gap_minutes=30, watermark="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_test").collect()
    }
    # user 1's burst closed in-stream by the 13:00 event; user 2's
    # singleton closed by event-time timeout once the watermark passed
    # 10:30. user 1's 13:00 session is still open -> NOT emitted.
    assert got == {
        (1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 2),
        (2, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00"), 1),
    }


def test_stream_sessionize_multiple_gaps_one_batch(spark, tmp_path):
    """Several gap-separated bursts arriving in ONE batch close all but
    the last immediately (in-stream closure needs no watermark)."""
    src = tmp_path / "one"
    _write_batch(
        spark,
        [
            (5, ts("2024-01-01 08:00:00")),
            (5, ts("2024-01-01 08:10:00")),
            (5, ts("2024-01-01 09:30:00")),  # > 30 min after 08:10
            (5, ts("2024-01-01 11:00:00")),  # > 30 min after 09:30
        ],
        str(src / "f1"),
        1_000,
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(f"{src}/*")
    )
    sessions = stream_sessionize(stream, gap_minutes=30, watermark="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_one")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_one").collect()
    )
    assert got == [
        (ts("2024-01-01 08:00:00"), ts("2024-01-01 08:10:00"), 2),
        (ts("2024-01-01 09:30:00"), ts("2024-01-01 09:30:00"), 1),
    ]


def test_stream_sessionize_checkpoint_resume_exactly_once(spark, tmp_path):
    """Kill-and-resume: drain file 1 with a checkpoint, stop, then resume
    the SAME checkpoint after file 2 lands. State (the open session) must
    survive the restart and the final output must equal the single-run
    result — no duplicated or lost sessions (exactly-once file sink)."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_batch(
        spark,
        [
            (1, ts("2024-01-01 10:00:00")),
            (1, ts("2024-01-01 10:05:00")),
            (2, ts("2024-01-01 10:00:00")),
        ],
        str(src / "f1"),
        1_000,
    )

    def run_drain():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        sessions = stream_sessionize(
            stream, gap_minutes=30, watermark="30 minutes"
        )
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_drain()  # drains f1; both sessions still open -> nothing final
    first = spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events bigint"
    ).parquet(out)
    assert first.count() == 0

    _write_batch(
        spark,
        [(1, ts("2024-01-01 13:00:00"))],
        str(src / "f2"),
        2_000,
    )
    run_drain()  # resume from checkpoint: state survived the restart
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 2),
        (2, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00"), 1),
    }


def _drain(spark, src, name):
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
    )
    sessions = stream_sessionize(stream, gap_minutes=30, watermark="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


def test_stream_sessionize_late_ingap_event_extends_start_backwards(
    spark, tmp_path
):
    """A late event that is EARLIER than the open session's first-seen
    event but within the gap must pull session_start backwards (the state
    function handles late rows itself — applyInPandasWithState does not
    watermark-filter its input)."""
    src = tmp_path / "late1"
    # file 1: user 7 at 10:00 (watermark after this batch: 09:30)
    _write_batch(spark, [(7, ts("2024-01-01 10:00:00"))], str(src / "f1"), 1_000)
    # file 2: late 09:50 event — within the 30-min gap, before start
    _write_batch(spark, [(7, ts("2024-01-01 09:50:00"))], str(src / "f2"), 2_000)
    # file 3: 13:00 closes the session in-stream
    _write_batch(spark, [(7, ts("2024-01-01 13:00:00"))], str(src / "f3"), 3_000)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _drain(spark, src, "sess_late1").collect()
    }
    assert got == {
        (7, ts("2024-01-01 09:50:00"), ts("2024-01-01 10:00:00"), 2),
    }


def test_stream_sessionize_very_late_new_key_does_not_kill_query(
    spark, tmp_path
):
    """A NEW key arriving entirely below watermark − gap would compute a
    timeout timestamp ≤ the current watermark — unclamped, Spark throws
    IllegalArgumentException and kills the query. Clamped, the session
    closes at the next watermark advance."""
    src = tmp_path / "late2"
    # file 1: user 1 at 12:00 pushes the watermark to 11:30
    _write_batch(spark, [(1, ts("2024-01-01 12:00:00"))], str(src / "f1"), 1_000)
    # file 2: user 9's only event at 08:00 — 08:30 timeout < 11:30 watermark
    _write_batch(spark, [(9, ts("2024-01-01 08:00:00"))], str(src / "f2"), 2_000)
    # file 3: 15:00 advances the watermark, flushing user 9's session
    _write_batch(spark, [(1, ts("2024-01-01 15:00:00"))], str(src / "f3"), 3_000)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _drain(spark, src, "sess_late2").collect()
    }
    # user 9's very-late singleton emitted (not crashed); user 1's first
    # session closed in-stream by the 15:00 event
    assert got == {
        (1, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1),
        (9, ts("2024-01-01 08:00:00"), ts("2024-01-01 08:00:00"), 1),
    }


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
