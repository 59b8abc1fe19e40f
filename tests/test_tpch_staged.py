"""Semantics pins for the staged TPC-H completion tier (q2/q7/q8/q9/q11/
q12/q13/q15/q19/q20 — the ten shapes that finish the 22-query suite).
Their oracle parity is ``test_registry_tiers.test_staged_oracle_parity``.
"""

from __future__ import annotations

import os

import duckdb

from dbt_gdpr_anonymizer_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


def test_q2_limit_cut_is_total_order(spark):
    # the top-100 release must cut on a TOTAL order: (bal desc, n_name,
    # s_name, p_partkey) has no duplicate key among released rows
    rows = Q.q2_min_cost_supplier(spark, SF_DIR).collect()
    keys = [(r.bal_cents, r.n_name, r.s_name, r.p_partkey) for r in rows]
    assert len(keys) == len(set(keys))


def test_q13_includes_zero_order_customers(spark):
    # the left join's reason to exist: the distribution must carry a
    # c_count=0 bucket whenever some customer has no qualifying order
    rows = {
        r.c_count: r.custdist
        for r in Q.q13_customer_distribution(spark, SF_DIR).collect()
    }
    total = sum(rows.values())
    con = duckdb.connect()
    n_cust = con.execute(
        f"select count(*) from '{SF_DIR}/customer.parquet'"
    ).fetchone()[0]
    con.close()
    assert total == n_cust


def test_q8_share_is_integral_division(spark):
    for r in Q.q8_national_market_share(spark, SF_DIR).collect():
        assert (
            r.mkt_share_ppm
            == 1_000_000 * r.nation_rev_e4 // r.total_rev_e4
        )
        assert 0 <= r.mkt_share_ppm <= 1_000_000
