"""Stream-stream interval join (streaming/join.py): unit semantics on a
crafted replay — matches inside the lookback, exclusion outside it, and
cross-batch state survival (a click arriving a batch before its purchase)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.streaming.anonymize import drain, replay_batches
from dbt_gdpr_anonymizer_spark.streaming.join import stream_interval_join


def test_stream_interval_join_semantics(spark, tmp_path):
    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    schema = "b int, kind string, eid long, user long, ts timestamp"
    batches = [
        # batch 1: clicks only — state must survive into batch 2
        [
            ("click", 1, 7, t(0)),    # 30 min before purchase -> match
            ("click", 2, 7, t(25)),   # 5 min before -> match
            ("click", 3, 8, t(0)),    # other user's purchase -> no match
        ],
        # batch 2: the purchases + one too-old click boundary probe
        [
            ("purchase", 10, 7, t(30)),
            ("click", 4, 9, t(31)),   # AFTER its purchase -> no match
            ("purchase", 11, 9, t(30)),
        ],
        # batch 3: advances the watermark so nothing is stuck
        [("view", 99, 1, dt.datetime(2024, 1, 1, 14, 0))],
    ]
    rows = [(i, *r) for i, batch in enumerate(batches) for r in batch]
    stream = replay_batches(
        spark.createDataFrame(rows, schema), "b", str(tmp_path)
    )
    clicks = stream.filter(F.col("kind") == "click").select(
        F.col("user").alias("user"), F.col("eid").alias("click_id"), "ts"
    )
    purchases = stream.filter(F.col("kind") == "purchase").select(
        F.col("user").alias("user"), F.col("eid").alias("purchase_id"), "ts"
    )
    joined = stream_interval_join(
        clicks, purchases, on="user", lookback="1 hour", watermark="2 hours"
    ).select("purchase_id", "click_id")
    got = {(r.purchase_id, r.click_id) for r in drain(joined).collect()}
    assert got == {(10, 1), (10, 2)}
