"""TextRank keyword extraction: driver-style oracle parity for the
staged query (outside the driver contract — r11 oracle freeze; r13
candidate).
"""

from __future__ import annotations

import os

import duckdb

from dbt_gdpr_anonymizer_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


def _oracle(sql: str, sf_dir: str):
    con = Q.duckdb_views(duckdb.connect(), sf_dir)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    return cols, rows


def test_matches_duckdb_oracle(spark):
    sdf = Q.textrank_keywords_documents(spark, SF_DIR)
    scols = sdf.columns
    srows = sorted(tuple(r) for r in sdf.collect())
    ocols, orows = _oracle(Q.TEXTRANK_KEYWORDS_ORACLE, SF_DIR)
    orows = sorted(tuple(r) for r in orows)
    assert scols == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows


def test_release_is_total_ordered_topk(spark):
    rows = Q.textrank_keywords_documents(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    words = [r.word for r in rows]
    assert len(words) == len(set(words))
    keyed = [(-r.rank_units, r.word) for r in rows]
    assert keyed == sorted(keyed)
    assert all(len(w) >= 3 for w in words)
