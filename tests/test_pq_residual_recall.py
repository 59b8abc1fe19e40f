"""Recall-field pins for the staged residual-recall query. Its oracle
parity is ``test_registry_tiers.test_staged_oracle_parity``.
"""

from __future__ import annotations

import os

from dbt_gdpr_anonymizer_spark.queries import pq_residual_recall

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


def test_recall_fields_are_consistent(spark):
    # hits <= k_exact and the ppm release is the exact integer division
    rows = pq_residual_recall(spark, SF_DIR).collect()
    assert rows, "query set must be non-empty"
    for r in rows:
        assert 0 <= r.ivfpq_hits <= r.k_exact
        assert 0 <= r.res_hits <= r.k_exact
        assert r.ivfpq_recall_ppm == 1_000_000 * r.ivfpq_hits // r.k_exact
        assert r.res_recall_ppm == 1_000_000 * r.res_hits // r.k_exact
