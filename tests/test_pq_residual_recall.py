"""Oracle parity for the pre-staged residual-recall query.

``pq_residual_recall`` is in the staged tier (r11 oracle freeze: 250
queries until the parked backlog drains); this test applies the external
driver's own comparison — row count, column names, order-insensitive
value equality on the same parquet — to the Spark/oracle pair so the
residual tier carries hash-level evidence while parked. First in line
for registration when the freeze lifts (r13 per the SURVEY r12 plan).
"""

from __future__ import annotations

import os

import duckdb

from dbt_gdpr_anonymizer_spark.queries import (
    PQ_RESIDUAL_RECALL_ORACLE,
    duckdb_views,
    pq_residual_recall,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


def test_matches_duckdb_oracle(spark):
    sdf = pq_residual_recall(spark, SF_DIR)
    scols = sdf.columns
    srows = sorted(tuple(r) for r in sdf.collect())

    con = duckdb_views(duckdb.connect(), SF_DIR)
    res = con.execute(PQ_RESIDUAL_RECALL_ORACLE)
    ocols = [d[0] for d in res.description]
    orows = sorted(tuple(r) for r in res.fetchall())

    assert scols == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows


def test_recall_fields_are_consistent(spark):
    # hits <= k_exact and the ppm release is the exact integer division
    rows = pq_residual_recall(spark, SF_DIR).collect()
    assert rows, "query set must be non-empty"
    for r in rows:
        assert 0 <= r.ivfpq_hits <= r.k_exact
        assert 0 <= r.res_hits <= r.k_exact
        assert r.ivfpq_recall_ppm == 1_000_000 * r.ivfpq_hits // r.k_exact
        assert r.res_recall_ppm == 1_000_000 * r.res_hits // r.k_exact
