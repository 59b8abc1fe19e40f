"""The query registry's two tiers.

``register(..., tier=...)`` puts every name in exactly one tier. The
driver contract (``__spark_entry__``) serves the registry tier: the 250
names the r11 oracle freeze holds, in check order. The staged tier holds
the oracle-checked candidates kept outside the contract; each is checked
against its DuckDB oracle here with the driver's comparison.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as ent
from dbt_gdpr_anonymizer_spark import queries as Q

# md5 of json.dumps(names) over the registry tier in check order:
# registering, dropping, renaming or reordering a name changes it.
REGISTRY_NAMES_MD5 = "913d0b6f073e3c23e1adea8c0846f6b4"

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")

STAGED = [
    "pq_residual_recall",
    "q2_min_cost_supplier",
    "q7_nation_volume_shipping",
    "q8_national_market_share",
    "q9_product_type_profit",
    "q11_important_stock",
    "q12_priority_shipping",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q19_discounted_revenue",
    "q20_potential_promotion",
    "acf_daily_events",
    "ewma_daily_events",
    "time_to_purchase_hazard_events",
    "seq_2patterns_events",
    "lpa_communities_brands",
    "dbscan_customers",
    "kcore_spatial_customers",
    "holt_daily_events",
    "textrank_keywords_documents",
    "multimodal_netpbm_features",
    "mk_trend_daily_events",
    "seq_3patterns_events",
    "cusum_daily_events",
]


def _md5(names) -> str:
    return hashlib.md5(json.dumps(list(names)).encode()).hexdigest()


def test_tiers_partition_the_registry():
    assert set(Q.TIER.values()) == set(Q.TIERS)
    registry, staged = (set(Q.all_queries(t)) for t in Q.TIERS)
    assert not registry & staged
    assert registry | staged == set(Q.QUERIES)
    assert set(Q.ORACLE) <= set(Q.QUERIES)


def test_driver_contract_is_the_frozen_registry_tier():
    names = list(ent.queries())
    assert len(names) == 250
    assert _md5(names) == REGISTRY_NAMES_MD5
    assert list(ent.oracle_sql()) == names
    assert names == list(Q.all_queries("registry"))
    assert ent.oracle_sql() == Q.all_oracles("registry")


def test_staged_tier():
    assert list(Q.all_queries("staged")) == STAGED
    assert list(Q.all_oracles("staged")) == STAGED


def test_register_rejects_a_second_registration():
    with pytest.raises(ValueError, match="registered twice"):
        Q.register("q1_pricing_summary", tier="staged")(lambda spark, sf: None)
    assert Q.TIER["q1_pricing_summary"] == "registry"


def test_queries_use_the_one_stream_harness():
    """Streams drain through ``drain`` / ``write_stream_parquet`` /
    ``stream_upsert_parquet``, replays go through ``replay_batches`` and
    session confs through ``scoped_conf``: no query hand-writes a sink,
    an mtime-ordered replay or a conf save/restore."""
    src = open(Q.__file__).read()
    for needle in (
        "writeStream",
        "os.utime",
        "spark.conf.set(",
        "spark.conf.unset(",
    ):
        assert needle not in src, needle


def test_queries_leave_no_scratch_behind():
    """Files a returned frame reads lazily go under ``scratch_dir``,
    removed at process exit, and a frame a SQL text reads is passed as a
    ``spark.sql`` argument, a view dropped after analysis: no query makes
    a directory or a catalog view that outlives the process."""
    src = open(Q.__file__).read()
    for needle in ("mkdtemp", "createOrReplaceTempView"):
        assert needle not in src, needle


def test_caches_have_one_owner():
    """Every persist in the package goes through ``caching.persist``, so
    the session ledger that ``release_caches`` empties sees every cache;
    no code hand-carries caches from frame to frame."""
    root = Path(__file__).resolve().parent.parent
    pkg = root / "dbt_gdpr_anonymizer_spark"
    for path in pkg.rglob("*.py"):
        if path != pkg / "operators" / "caching.py":
            src = path.read_text()
            for needle in (".persist(", ".cache()"):
                assert needle not in src, (path, needle)
    sources = [root / "bench.py", *pkg.rglob("*.py")]
    for d in ("scripts", "tests"):
        sources += (root / d).rglob("*.py")
    # assembled, so this file does not match its own needles
    gone = ["track" + "_caches", "cached" + "_deps", "_re" + "track"]
    for path in sources:
        src = path.read_text()
        for needle in gone:
            assert needle not in src, (path, needle)


@pytest.mark.parametrize("name", list(Q.all_queries("staged")))
def test_staged_oracle_parity(spark, name):
    """Column names, a non-empty row count and order-insensitive values
    equal the oracle's on the same parquet."""
    sdf = Q.all_queries("staged")[name](spark, SF_DIR)
    srows = sorted(tuple(r) for r in sdf.collect())
    con = Q.duckdb_views(duckdb.connect(), SF_DIR)
    res = con.execute(Q.all_oracles("staged")[name])
    ocols = [d[0] for d in res.description]
    orows = sorted(res.fetchall())
    con.close()
    assert sdf.columns == ocols
    assert len(srows) == len(orows) > 0
    assert srows == orows
