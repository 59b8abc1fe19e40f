"""Tests for scale-oriented features: interval join, bucketed co-located
joins, skew-safe distincts (partitioned writes: tests/test_partitioned.py)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.relational import (
    interval_join,
    salted_join,
    skew_safe_distinct_count,
)


def ts(s):
    return datetime.fromisoformat(s)


def test_interval_join_matches_range_semantics(spark):
    points = spark.createDataFrame(
        [
            (1, 10, ts("2024-01-01 10:30:00")),  # inside
            (2, 10, ts("2024-01-01 09:59:59")),  # just before
            (3, 10, ts("2024-01-01 12:00:00")),  # boundary end (inclusive)
            (4, 99, ts("2024-01-01 10:30:00")),  # wrong key
        ],
        "pid long, k long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(7, 10, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))],
        "iid long, k long, start timestamp, end timestamp",
    )
    out = interval_join(points, intervals, on="k")
    assert sorted(r["pid"] for r in out.collect()) == [1, 3]


def test_interval_join_timezone_independent(spark):
    """Bucketization is a pure function of the wall-clock value: NTZ inputs
    under a non-UTC session timezone must match exactly as under UTC (the
    old timestamp cast shifted NTZ buckets by the session offset)."""
    points = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:30:00")),  # inside
            (2, ts("2024-01-01 09:59:59")),  # just before start
        ],
        "pid long, ts timestamp_ntz",
    )
    intervals = spark.createDataFrame(
        [(7, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))],
        "iid long, start timestamp_ntz, end timestamp_ntz",
    )
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Kathmandu"):  # +05:45 — off-hour offset
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert [r["pid"] for r in interval_join(points, intervals).collect()] == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_interval_join_plan_has_no_nested_loop(spark):
    points = spark.createDataFrame(
        [(1, ts("2024-01-01 10:30:00"))], "pid long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [(7, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))],
        "iid long, start timestamp, end timestamp",
    )
    plan = (
        interval_join(points, intervals)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """bucketBy co-locates both sides on the join key: the sort-merge join
    plan must contain no shuffle Exchange."""
    a = spark.range(1000).withColumnRenamed("id", "k").withColumn(
        "va", F.col("k") * 2
    )
    b = spark.range(1000).withColumnRenamed("id", "k").withColumn(
        "vb", F.col("k") * 3
    )
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("drop table if exists bkt_a")
        spark.sql("drop table if exists bkt_b")


def test_salted_join_matches_plain_join(spark):
    # hot key 1 carries 90% of the fact rows
    fact = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(2, i) for i in range(10)],
        "k long, v long",
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")],
                                "k long, name string")
    for how in ("inner", "left"):
        plain = sorted(
            (r["k"], r["v"], r["name"])
            for r in fact.join(dim, "k", how).collect()
        )
        salted = sorted(
            (r["k"], r["v"], r["name"])
            for r in salted_join(fact, dim, "k", salts=4, how=how).collect()
        )
        assert salted == plain


def test_salted_join_spreads_hot_key_over_salt_buckets(spark):
    fact = spark.createDataFrame([(1, i) for i in range(200)], "k long, v long")
    dim = spark.createDataFrame([(1, "hot")], "k long, name string")
    out = salted_join(fact, dim, "k", salts=4)
    # the physical join key must include the salt column
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    assert out.count() == 200


def test_skew_safe_distinct_count(spark):
    rows = [(1, v) for v in [10, 10, 20, 30]] + [(2, v) for v in [10, 10]]
    df = spark.createDataFrame(rows, "k long, v long")
    out = {
        r["k"]: r["n_distinct_v"]
        for r in skew_safe_distinct_count(df, ["k"], "v").collect()
    }
    assert out == {1: 3, 2: 1}


def test_write_range_sorted_produces_disjoint_zone_maps(spark, tmp_path):
    """write_range_sorted: per-file key ranges are disjoint and a filtered
    read pushes the predicate to the scan — the zone-map layout a
    time-ordered corpus needs for file/row-group skipping."""
    import glob

    import pyarrow.parquet as pq

    from dbt_gdpr_anonymizer_spark.sources.ingest import write_range_sorted

    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") * 7 % 10_000).alias("key")
    )
    out = str(tmp_path / "sorted")
    write_range_sorted(df, out, ["key"], num_files=4)

    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "key"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap: {ranges}"

    back = spark.read.parquet(out).filter(F.col("key") < 100)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(key), LessThan(key,100)" in plan
    assert back.count() == 100


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink/source parity: values round-trip exactly and a key filter
    reaches the ORC scan as a pushed predicate (same pruned-scan contract
    the parquet paths assert)."""
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("row-"), F.col("id").cast("string")).alias("name"),
    )
    path = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.orderBy("k").collect() == df.orderBy("k").collect()
    filtered = back.filter(F.col("k") == 123).select("name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "EqualTo(k,123)" in plan
    assert filtered.collect()[0]["name"] == "row-123"
