"""The registry's parquet schema memo (queries._parquet_schema / _t).

A read given its schema launches no Spark job; the memo must still hand
back exactly what inference would, and infer again whenever the files or
the parquet inference confs change.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_gdpr_anonymizer_spark import queries as Q
from tests.conftest import jobs_launched
from tests.test_plan_invariants import SF_DIR


@pytest.mark.parametrize("table", Q.TABLES)
def test_memoized_schema_equals_inferred(spark, table):
    path = f"{SF_DIR}/{table}.parquet"
    if table == "events":
        # TIMESTAMP(NANOS) only reads with nanosAsLong; _events sets it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        inferred = spark.read.parquet(path).schema
        Q._t(spark, SF_DIR, table)
        got = Q._t(spark, SF_DIR, table).schema
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    # jsonValue carries every field's type, nullability and metadata
    assert got.jsonValue() == inferred.jsonValue()


def test_overwritten_table_gives_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    assert Q._t(spark, sf, "t").columns == ["k", "v"]
    spark.createDataFrame([(2.5,)], "w double").write.mode("overwrite").parquet(path)
    df = Q._t(spark, sf, "t")
    assert df.dtypes == [("w", "double")]
    assert df.collect()[0]["w"] == 2.5


def test_binary_as_string_flip_gives_new_key(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"xy"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    k0 = Q._schema_key(spark, path)
    assert dict(Q._t(spark, str(tmp_path), "b").dtypes)["b"] == "binary"
    spark.conf.set(conf, "true")
    try:
        assert Q._schema_key(spark, path) != k0
        assert dict(Q._t(spark, str(tmp_path), "b").dtypes)["b"] == "string"
    finally:
        spark.conf.unset(conf)
    assert Q._schema_key(spark, path) == k0


def test_directory_gaining_a_file_gives_new_key(spark, tmp_path):
    path = tmp_path / "d.parquet"
    path.mkdir()
    pq.write_table(pa.table({"x": [1]}), str(path / "part-0.parquet"))
    k0 = Q._schema_key(spark, str(path))
    # Spark ignores hidden and underscore files; so does the key
    (path / "_SUCCESS").write_bytes(b"")
    (path / ".part-0.parquet.crc").write_bytes(b"")
    assert Q._schema_key(spark, str(path)) == k0
    pq.write_table(pa.table({"x": [2]}), str(path / "part-1.parquet"))
    assert Q._schema_key(spark, str(path)) != k0


def test_warm_read_launches_no_job(spark, tmp_path):
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        str(tmp_path / "w.parquet")
    )
    sf = str(tmp_path)
    # the cold read infers (a footer job), which shows the counter works
    assert jobs_launched(spark, lambda: Q._t(spark, sf, "w")) >= 1
    assert jobs_launched(spark, lambda: Q._t(spark, sf, "w")) == 0
