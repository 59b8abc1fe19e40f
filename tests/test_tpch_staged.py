"""Oracle parity for the staged TPC-H completion tier (q2/q7/q8/q9/q11/
q12/q13/q15/q19/q20 — the ten shapes that finish the 22-query suite).

These are in the staged tier (r11 oracle freeze: 250 queries until the
parked backlog drains); this test applies the external driver's own
comparison — row count, column names, order-insensitive value equality
on the same parquet — to each Spark/oracle pair so the tier carries
hash-level evidence while parked (the pq_residual_recall precedent).
r13 registration candidates per the SURVEY r12 rotation plan.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from dbt_gdpr_anonymizer_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")

PAIRS = [
    (Q.q2_min_cost_supplier, Q.Q2_MIN_COST_SUPPLIER_ORACLE),
    (Q.q7_nation_volume_shipping, Q.Q7_NATION_VOLUME_SHIPPING_ORACLE),
    (Q.q8_national_market_share, Q.Q8_NATIONAL_MARKET_SHARE_ORACLE),
    (Q.q9_product_type_profit, Q.Q9_PRODUCT_TYPE_PROFIT_ORACLE),
    (Q.q11_important_stock, Q.Q11_IMPORTANT_STOCK_ORACLE),
    (Q.q12_priority_shipping, Q.Q12_PRIORITY_SHIPPING_ORACLE),
    (Q.q13_customer_distribution, Q.Q13_CUSTOMER_DISTRIBUTION_ORACLE),
    (Q.q15_top_supplier, Q.Q15_TOP_SUPPLIER_ORACLE),
    (Q.q19_discounted_revenue, Q.Q19_DISCOUNTED_REVENUE_ORACLE),
    (Q.q20_potential_promotion, Q.Q20_POTENTIAL_PROMOTION_ORACLE),
]


def _oracle(sql: str, sf_dir: str):
    con = Q.duckdb_views(duckdb.connect(), sf_dir)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    return cols, rows


@pytest.mark.parametrize(
    "fn,sql", PAIRS, ids=[fn.__name__ for fn, _ in PAIRS]
)
def test_matches_duckdb_oracle(spark, fn, sql):
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = sorted(tuple(r) for r in sdf.collect())

    ocols, orows = _oracle(sql, SF_DIR)
    orows = sorted(tuple(r) for r in orows)

    assert scols == ocols
    assert len(srows) == len(orows) > 0, f"{fn.__name__}: empty result"
    assert srows == orows


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
