"""X142: per-key streaming quota gate — state must carry the admitted
count across microbatches. The legacy applyInPandasWithState tier is
proven end to end here; the transformWithStateInPandas tier (Spark 4's
successor API) additionally needs the google.protobuf package for its
state-server protocol, so its end-to-end test runs wherever protobuf is
installed and the dependency gate itself is asserted where it is not."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from dbt_gdpr_anonymizer_spark.session import scoped_conf
from dbt_gdpr_anonymizer_spark.streaming.anonymize import drain

try:
    HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no 'google' namespace package at all
    HAS_PROTOBUF = False


def _write_batches(drop):
    # batch 1: user 1 sends 2, user 2 sends 1; batch 2: user 1 sends 3
    b1 = [
        {"user_id": 1, "event_id": 10},
        {"user_id": 1, "event_id": 11},
        {"user_id": 2, "event_id": 20},
    ]
    b2 = [
        {"user_id": 1, "event_id": 12},
        {"user_id": 1, "event_id": 13},
        {"user_id": 1, "event_id": 14},
    ]
    f1, f2 = drop / "a_b1.jsonl", drop / "b_b2.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in b1) + "\n")
    f2.write_text("\n".join(json.dumps(r) for r in b2) + "\n")
    os.utime(f1, (1_700_000_000, 1_700_000_000))
    os.utime(f2, (1_700_000_100, 1_700_000_100))


def _drain(gated):
    return sorted((r["user_id"], r["event_id"]) for r in drain(gated).collect())


def test_stream_quota_gate_legacy_across_batches(spark, tmp_path):
    from dbt_gdpr_anonymizer_spark.streaming.quota import (
        stream_quota_gate_legacy,
    )

    drop = tmp_path / "events"
    drop.mkdir()
    _write_batches(drop)
    stream = (
        spark.readStream.schema("user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(drop))
    )
    gated = stream_quota_gate_legacy(
        stream,
        "user_id",
        quota=3,
        output_schema="user_id long, event_id long",
        order_col="event_id",
    )
    got = _drain(gated)
    # user 1: 2 admitted in batch 1 + exactly 1 more in batch 2 (state
    # carried the count across the batch boundary); user 2: its single row
    assert got == [(1, 10), (1, 11), (1, 12), (2, 20)]


@pytest.mark.skipif(
    not HAS_PROTOBUF,
    reason="transformWithState Python worker needs google.protobuf",
)
def test_stream_quota_gate_tws_across_batches(spark, tmp_path):
    from dbt_gdpr_anonymizer_spark.streaming.quota import stream_quota_gate

    drop = tmp_path / "events"
    drop.mkdir()
    _write_batches(drop)
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state"
            ".RocksDBStateStoreProvider",
    }
    with scoped_conf(spark, rocksdb):
        stream = (
            spark.readStream.schema("user_id long, event_id long")
            .option("maxFilesPerTrigger", "1")
            .json(str(drop))
        )
        gated = stream_quota_gate(
            stream,
            "user_id",
            quota=3,
            output_schema="user_id long, event_id long",
            order_col="event_id",
        )
        got = _drain(gated)
    assert got == [(1, 10), (1, 11), (1, 12), (2, 20)]


@pytest.mark.skipif(
    HAS_PROTOBUF, reason="gate only observable without protobuf"
)
def test_stream_quota_gate_dependency_gate(spark):
    """Without protobuf the new-API wrapper must fail EAGERLY with the
    swap-in named, not crash the streaming query mid-run."""
    from dbt_gdpr_anonymizer_spark.streaming.quota import stream_quota_gate

    df = spark.createDataFrame([(1, 1)], ["user_id", "event_id"])
    with pytest.raises(ImportError, match="stream_quota_gate_legacy"):
        stream_quota_gate(
            df, "user_id", quota=1,
            output_schema="user_id long, event_id long",
        )


def test_quota_validation():
    from dbt_gdpr_anonymizer_spark.streaming.quota import (
        QuotaProcessor,
        stream_quota_gate_legacy,
    )

    with pytest.raises(ValueError):
        QuotaProcessor(0)
    with pytest.raises(ValueError):
        stream_quota_gate_legacy(
            None, "k", quota=0, output_schema="k long"
        )
