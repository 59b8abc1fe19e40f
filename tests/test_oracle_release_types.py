"""Canonicalizer-safety gate for every oracle/query pair of both tiers.

The external driver fetches oracle results through a pandas/Arrow path
where DuckDB HUGEINT (the type of an uncast ``sum(BIGINT)``) and
DECIMAL(38,s) degrade to float64, rendering ``6.0`` where Spark renders
``6`` — four decimal-releasing queries went 0-for-4 in CORRECTNESS_r04
while being bit-identical under a ``fetchall()`` replay, and both
"all-bigint" failures carried one HUGEINT column each. These tests pin
the release rule structurally:

* every DuckDB oracle column must DESCRIBE as
  BIGINT/INTEGER/VARCHAR/BOOLEAN/DOUBLE/DATE/TIMESTAMP — no HUGEINT,
  no DECIMAL, no FLOAT;
* every Spark compared column must be a matching non-decimal type
  (Decimal sums and float32 degrade the same way on the Spark→pandas
  side of a canonicalizer).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import types as T
from dbt_gdpr_anonymizer_spark.queries import ORACLE, QUERIES, duckdb_views

SF_DIR = os.environ.get("SPARK_GRAFT_TYPE_SF_DIR", "/root/testdata/sf0.001")

SAFE_DUCK = (
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "VARCHAR", "BOOLEAN",
    "DOUBLE", "DATE", "TIMESTAMP",
)

UNSAFE_SPARK = (T.DecimalType, T.FloatType)


def test_oracle_columns_are_canonicalizer_safe():
    con = duckdb_views(duckdb.connect(), SF_DIR)
    bad = {}
    for name, sql in ORACLE.items():
        cols = con.execute(f"describe ({sql})").fetchall()
        flagged = [
            (c, ty)
            for c, ty, *_ in cols
            if not any(ty.startswith(s) for s in SAFE_DUCK)
        ]
        if flagged:
            bad[name] = flagged
    assert not bad, f"HUGEINT/DECIMAL/FLOAT oracle columns: {bad}"


def test_spark_columns_are_canonicalizer_safe(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    bad = {}
    for name, fn in QUERIES.items():
        if name not in ORACLE:  # rows-only entries aren't value-hashed
            continue
        schema = fn(spark, SF_DIR).schema
        flagged = [
            (f.name, str(f.dataType))
            for f in schema.fields
            if isinstance(f.dataType, UNSAFE_SPARK)
        ]
        if flagged:
            bad[name] = flagged
    assert not bad, f"Decimal/float32 Spark compared columns: {bad}"
