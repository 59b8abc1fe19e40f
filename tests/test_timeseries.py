"""Temporal-analytics tier: unit pins for operators/timeseries.py and the
graph/spatial operators behind the staged queries. Their oracle parity
is ``test_registry_tiers.test_staged_oracle_parity``.
"""

from __future__ import annotations

import os

import pytest

from dbt_gdpr_anonymizer_spark import queries as Q
from dbt_gdpr_anonymizer_spark.operators.timeseries import (
    acf_lags,
    ewma_fold,
    nelson_aalen,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")


# ---------------------------------------------------------------- units


def test_acf_alternating_series_is_minus_one(spark):
    # x alternates 1,3,1,3,... -> lag-1 ACF is exactly -1
    rows = [("g", t, 1 if t % 2 == 0 else 3) for t in range(10)]
    df = spark.createDataFrame(rows, "grp string, t int, x int")
    out = acf_lags(df, "grp", "t", "x", [1, 2]).collect()
    by_lag = {r.lag: r for r in out}
    assert by_lag[1].acf_e6 == -1_000_000
    assert by_lag[2].acf_e6 == 1_000_000 - 1 or by_lag[2].acf_e6 == 1_000_000
    assert by_lag[1].n_pairs == 9


def test_acf_constant_series_is_null(spark):
    df = spark.createDataFrame(
        [("g", t, 5) for t in range(6)], "grp string, t int, x int"
    )
    out = acf_lags(df, "grp", "t", "x", [1]).collect()
    assert out[0].acf_e6 is None


def test_acf_rejects_non_integral_and_bad_lags(spark):
    df = spark.createDataFrame(
        [("g", 1, 1.5)], "grp string, t int, x double"
    )
    with pytest.raises(TypeError):
        acf_lags(df, "grp", "t", "x", [1])
    ok = spark.createDataFrame([("g", 1, 1)], "grp string, t int, x int")
    with pytest.raises(ValueError):
        acf_lags(ok, "grp", "t", "x", [])
    with pytest.raises(ValueError):
        acf_lags(ok, "grp", "t", "x", [0])


def test_ewma_hand_computed(spark):
    # alpha=1/4, scale=100: x = [8, 4, 12]
    # s1 = 800; s2 = (400 + 3*800) div 4 = 700; s3 = (1200+3*700) div 4 = 825
    df = spark.createDataFrame(
        [("g", 1, 8), ("g", 2, 4), ("g", 3, 12)],
        "grp string, t int, x int",
    )
    out = sorted(ewma_fold(df, "grp", "t", "x", 1, 4, 100).collect())
    assert [(r.t, r.ewma_e6) for r in out] == [(1, 800), (2, 700), (3, 825)]


def test_ewma_rejects_bad_alpha(spark):
    df = spark.createDataFrame([("g", 1, 1)], "grp string, t int, x int")
    with pytest.raises(ValueError):
        ewma_fold(df, "grp", "t", "x", 4, 4)
    with pytest.raises(ValueError):
        ewma_fold(df, "grp", "t", "x", 0, 4)


def test_nelson_aalen_hand_computed(spark):
    # durations: 1 (event), 2 (censored), 3 (event)
    # t=1: n=3, d=1 -> 333333 ; t=3: n=1, d=1 -> 1000000 ; cum 1333333
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 0), ("g", 3, 1)],
        "grp string, dur int, ev int",
    )
    out = sorted(nelson_aalen(df, "grp", "dur", "ev").collect())
    assert [(r.dur, r.n_at_risk, r.d_events, r.hazard_step_e6,
             r.cum_hazard_e6) for r in out] == [
        (1, 3, 1, 333333, 1333333 - 1000000),
        (3, 1, 1, 1000000, 1333333),
    ]


def test_nelson_aalen_censored_only_group_is_empty(spark):
    df = spark.createDataFrame(
        [("g", 5, 0), ("g", 7, 0)], "grp string, dur int, ev int"
    )
    assert nelson_aalen(df, "grp", "dur", "ev").count() == 0


def test_hazard_monotone_and_bounded(spark):
    rows = sorted(
        Q.time_to_purchase_hazard_events(spark, SF_DIR).collect(),
        key=lambda r: (r.grp, r.dur),
    )
    assert rows
    last = {}
    for r in rows:
        assert 0 < r.hazard_step_e6 <= 1_000_000
        assert r.hazard_step_e6 == 1_000_000 * r.d_events // r.n_at_risk
        prev = last.get(r.grp, 0)
        assert r.cum_hazard_e6 == prev + r.hazard_step_e6
        last[r.grp] = r.cum_hazard_e6


def test_seq_patterns_tiny(spark):
    # user 1: a@1, b@2  -> supports (a,b); user 2: b@1, a@2 -> (b,a)
    # both users: no repeats -> no self pairs
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, "a"),
        (1, base + dt.timedelta(hours=1), "b"),
        (2, base, "b"),
        (2, base + dt.timedelta(hours=1), "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string"
    )
    from pyspark.sql import functions as F

    ut = df.groupBy("user_id", "event_type").agg(
        F.min(F.expr("unix_micros(ts)")).alias("mn"),
        F.max(F.expr("unix_micros(ts)")).alias("mx"),
    )
    a = ut.select("user_id", F.col("event_type").alias("ant"), "mn")
    b = ut.select(
        F.col("user_id").alias("_u"),
        F.col("event_type").alias("cons"),
        "mx",
    )
    sup = (
        a.join(
            b,
            (F.col("user_id") == F.col("_u")) & (F.col("mn") < F.col("mx")),
        )
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).alias("s"))
        .collect()
    )
    got = {(r.ant, r.cons): r.s for r in sup}
    assert got == {("a", "b"): 1, ("b", "a"): 1}


# ------------------------------------------------------- LPA communities


def test_lpa_two_cliques_with_bridge(spark):
    # two 3-cliques joined by one bridge edge: each clique converges to
    # its own min label; the bridge is outvoted 2-to-1 on both sides
    from dbt_gdpr_anonymizer_spark.operators.graph import label_propagation

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"),
        ("x", "y"), ("x", "z"), ("y", "z"),
        ("c", "x"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {
        r.node: r.community
        for r in label_propagation(df, rounds=4).collect()
    }
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]


def test_lpa_rejects_bad_rounds(spark):
    from dbt_gdpr_anonymizer_spark.operators.graph import label_propagation

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    import pytest as _pt

    with _pt.raises(ValueError):
        label_propagation(df, rounds=0)


# ------------------------------------------------------------- DBSCAN


def test_dbscan_semantics_tiny(spark):
    # 4 points on a line 1km apart (core chain) + 1 far-away noise point;
    # eps=1.5km, min_pts=3: middle points are core (2 neighbors), the two
    # ends are border (1 core neighbor each), the far point is noise.
    from dbt_gdpr_anonymizer_spark.operators.spatial import dbscan_clusters

    rows = [
        (1, 0.0, 0.0),
        (2, 0.009, 0.0),   # ~1.0 km north
        (3, 0.018, 0.0),
        (4, 0.027, 0.0),
        (9, 5.0, 5.0),     # noise
    ]
    df = spark.createDataFrame(rows, "pid int, lat double, lon double")
    out = dbscan_clusters(
        df, "pid", "lat", "lon", eps_km=1.5, min_pts=3
    ).collect()
    got = {r.pid: (r.cluster, r.is_core) for r in out}
    assert 9 not in got
    assert got[2][1] == 1 and got[3][1] == 1     # middle: core
    assert got[1][1] == 0 and got[4][1] == 0     # ends: border
    assert len({v[0] for v in got.values()}) == 1  # one cluster


def test_dbscan_rejects_bad_min_pts(spark):
    from dbt_gdpr_anonymizer_spark.operators.spatial import dbscan_clusters

    df = spark.createDataFrame(
        [(1, 0.0, 0.0)], "pid int, lat double, lon double"
    )
    with pytest.raises(ValueError):
        dbscan_clusters(df, "pid", "lat", "lon", eps_km=1.0, min_pts=1)


# -------------------------------------------------------------- k-core


def test_kcore_cascade_semantics(spark):
    # triangle a-b-c plus a pendant chain c-d-e: at k=2 the chain peels
    # in CASCADE (e first, then d) — a single degree filter would keep d
    from dbt_gdpr_anonymizer_spark.operators.graph import kcore_peel

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.degree for r in kcore_peel(df, k=2, rounds=4).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}


def test_kcore_rejects_bad_params(spark):
    from dbt_gdpr_anonymizer_spark.operators.graph import kcore_peel

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        kcore_peel(df, k=0, rounds=4)
    with pytest.raises(ValueError):
        kcore_peel(df, k=2, rounds=0)


# ---------------------------------------------------------------- Holt


def test_holt_hand_computed_with_negative_trend(spark):
    # alpha=beta=1/2, scale=100: x = [8, 4]
    # l1=800, b1=0; l2=(4*100 + 800) div 2 = 600; b2=((600-800) + 0) div 2
    # = -200 div 2 = -100  (negative trend exercises signed div parity)
    from dbt_gdpr_anonymizer_spark.operators.timeseries import holt_fold

    df = spark.createDataFrame(
        [("g", 1, 8), ("g", 2, 4)], "grp string, t int, x int"
    )
    out = sorted(holt_fold(df, "grp", "t", "x", 1, 2, 1, 2, 100).collect())
    got = [(r.t, r.level_e6, r.trend_e6, r.forecast_e6) for r in out]
    assert got == [(1, 800, 0, 800), (2, 600, -100, 500)]


def test_holt_rejects_bad_factors(spark):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import holt_fold

    df = spark.createDataFrame([("g", 1, 1)], "grp string, t int, x int")
    with pytest.raises(ValueError):
        holt_fold(df, "grp", "t", "x", 1, 4, 4, 4)


# -------------------------------------------------------- Mann-Kendall


def test_mk_monotone_series(spark):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import mann_kendall

    # strictly increasing: S = n(n-1)/2, sen slope = min pairwise slope
    df = spark.createDataFrame(
        [("g", t, 2 * t) for t in range(6)], "grp string, t int, x int"
    )
    r = mann_kendall(df, "grp", "t", "x").collect()[0]
    assert r.s_stat == 15 and r.n_pairs == 15
    assert r.sen_slope_e6 == 2_000_000
    assert r.var18 == 6 * 5 * 17
    assert r.z_e6 > 0


def test_mk_all_tied_is_null_z(spark):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import mann_kendall

    df = spark.createDataFrame(
        [("g", t, 7) for t in range(4)], "grp string, t int, x int"
    )
    r = mann_kendall(df, "grp", "t", "x").collect()[0]
    assert r.s_stat == 0 and r.var18 == 0 and r.z_e6 is None
    assert r.sen_slope_e6 == 0


# --------------------------------------------------------- 3-patterns


def test_seq3_strict_order_semantics(spark):
    # user 1: a@1 b@2 c@3 -> (a,b,c) supported; (c,b,a) not;
    # (a,a,c)? needs an a strictly between first a and last c -> no
    # second a, unsupported. user 2: a@1 a@2 c@3 -> (a,a,c) supported.
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ts(h):
        return base + dt.timedelta(hours=h)

    rows = [
        (1, ts(1), "a"), (1, ts(2), "b"), (1, ts(3), "c"),
        (2, ts(1), "a"), (2, ts(2), "a"), (2, ts(3), "c"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string"
    )
    from pyspark.sql import functions as F

    ut = df.groupBy("user_id", "event_type").agg(
        F.min(F.expr("unix_micros(ts)")).alias("mn"),
        F.max(F.expr("unix_micros(ts)")).alias("mx"),
    )
    ac = ut.select("user_id", F.col("event_type").alias("ant"), "mn").join(
        ut.select(
            F.col("user_id").alias("_u"),
            F.col("event_type").alias("cons"),
            "mx",
        ),
        F.col("user_id") == F.col("_u"),
    )
    bev = df.select(
        F.col("user_id").alias("_bu"),
        F.col("event_type").alias("mid"),
        F.expr("unix_micros(ts)").alias("tb"),
    )
    trip = (
        ac.join(
            bev,
            (F.col("user_id") == F.col("_bu"))
            & (F.col("tb") > F.col("mn"))
            & (F.col("tb") < F.col("mx")),
        )
        .select("user_id", "ant", "mid", "cons")
        .distinct()
        .collect()
    )
    got = {(r.user_id, r.ant, r.mid, r.cons) for r in trip}
    assert (1, "a", "b", "c") in got
    assert (1, "c", "b", "a") not in got
    assert (1, "a", "a", "c") not in got
    assert (2, "a", "a", "c") in got


# ---------------------------------------------------------------- CUSUM


def test_cusum_hand_computed(spark):
    # x = [1, 1, 4]: n=3, T=6; dev*n = [-3, -3, +6]
    # pos: max(0,-3)=0, 0-3->0, 0+6->6 ; neg: 3, 6, max(0,6-6)=0
    from dbt_gdpr_anonymizer_spark.operators.timeseries import cusum_fold

    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 3, 4)],
        "grp string, t int, x int",
    )
    out = sorted(cusum_fold(df, "grp", "t", "x").collect())
    got = [(r.t, r.cusum_pos_nx, r.cusum_neg_nx) for r in out]
    assert got == [(1, 0, 3), (2, 0, 6), (3, 6, 0)]
