"""TextRank keyword extraction: release-order pin for the staged query.
Its oracle parity is ``test_registry_tiers.test_staged_oracle_parity``.
"""

from __future__ import annotations

import os

from dbt_gdpr_anonymizer_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


def test_release_is_total_ordered_topk(spark):
    rows = Q.textrank_keywords_documents(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    words = [r.word for r in rows]
    assert len(words) == len(set(words))
    keyed = [(-r.rank_units, r.word) for r in rows]
    assert keyed == sorted(keyed)
    assert all(len(w) >= 3 for w in words)
