"""The one stream harness (streaming/anonymize.py ``drain``) and the one
scoped-conf helper (session.py ``scoped_conf``): a drain leaves no
catalog view, returns frames that outlive the view, fails loudly, and
puts every session conf back the way it found it."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.session import scoped_conf
from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
    drain,
    read_rate_events_stream,
)

PARTITIONS = "spark.sql.shuffle.partitions"


def _views(spark):
    return {t.name for t in spark.catalog.listTables()}


def test_drain_twice_leaves_no_view_and_its_frames_collect(spark):
    before = _views(spark)
    partitions = spark.conf.get(PARTITIONS)
    outs = [
        drain(read_rate_events_stream(spark, 100, micro_batch=True))
        for _ in range(2)
    ]
    assert _views(spark) == before
    assert spark.conf.get(PARTITIONS) == partitions
    for out in outs:
        assert sorted(r.event_id for r in out.collect()) == list(range(100))
        derived = out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        assert {r.event_type: r.n for r in derived.collect()} == {
            "click": 34,
            "view": 33,
            "purchase": 33,
        }


def test_drain_raises_when_the_query_fails(spark):
    before = _views(spark)
    ev = read_rate_events_stream(spark, 10, micro_batch=True)
    bad = ev.select(
        F.when(F.col("event_id") >= 0, F.raise_error(F.lit("drain-boom")))
        .otherwise(F.col("event_id"))
        .alias("x")
    )
    with pytest.raises(StreamingQueryException, match="drain-boom"):
        drain(bad)
    assert _views(spark) == before


def test_scoped_conf_restores_a_set_key_and_unsets_a_new_one(spark):
    unset = "spark.sql.test.scopedConfProbe"
    prior = spark.conf.get(PARTITIONS)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {PARTITIONS: "7", unset: "on"}):
            assert spark.conf.get(PARTITIONS) == "7"
            assert spark.conf.get(unset) == "on"
            raise RuntimeError
    assert spark.conf.get(PARTITIONS) == prior
    assert spark.conf.get(unset, None) is None
