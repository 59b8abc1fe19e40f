"""Hypothesis property tests for the r11 temporal/structure tier: the
Spark operators must equal pure-python replays on ARBITRARY generated
inputs, not just the handwritten fixtures (the sketch-tier precedent,
which caught a real operator bug in r10). One Spark round-trip per
example; example counts kept small for runtime."""

from __future__ import annotations

from collections import Counter, defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_series = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 50)),
    min_size=1,
    max_size=12,
    unique_by=lambda p: p[0],
)


def _ewma_py(pairs, num, den, scale):
    out = []
    s = None
    for t, x in sorted(pairs):
        s = (
            x * scale
            if s is None
            else (x * scale * num + (den - num) * s) // den
        )
        out.append((t, x, s))
    return out


@given(pairs=_series, num_den=st.sampled_from([(1, 2), (1, 4), (3, 4)]))
@settings(**_SETTINGS)
def test_ewma_property(spark, pairs, num_den):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import ewma_fold

    num, den = num_den
    df = spark.createDataFrame(
        [("g", t, x) for t, x in pairs], "grp string, t int, x int"
    )
    got = [
        (r.t, r.x, r.ewma_e6)
        for r in sorted(ewma_fold(df, "grp", "t", "x", num, den, 1000).collect())
    ]
    assert got == _ewma_py(pairs, num, den, 1000)


def _tdiv(a, b):
    # truncation toward zero (Spark div / DuckDB // on integers)
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _holt_py(pairs, an, ad, bn, bd, scale):
    out = []
    lv = tb = None
    for t, x in sorted(pairs):
        if lv is None:
            lv, tb = x * scale, 0
        else:
            lnew = _tdiv(x * scale * an + (ad - an) * (lv + tb), ad)
            tb = _tdiv(bn * (lnew - lv) + (bd - bn) * tb, bd)
            lv = lnew
        out.append((t, x, lv, tb, lv + tb))
    return out


@given(pairs=_series)
@settings(**_SETTINGS)
def test_holt_property(spark, pairs):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import holt_fold

    df = spark.createDataFrame(
        [("g", t, x) for t, x in pairs], "grp string, t int, x int"
    )
    got = [
        (r.t, r.x, r.level_e6, r.trend_e6, r.forecast_e6)
        for r in sorted(
            holt_fold(df, "grp", "t", "x", 1, 4, 1, 4, 1000).collect()
        )
    ]
    assert got == _holt_py(pairs, 1, 4, 1, 4, 1000)


_subjects = st.lists(
    st.tuples(st.integers(0, 10), st.booleans()),
    min_size=1,
    max_size=20,
)


@given(subjects=_subjects)
@settings(**_SETTINGS)
def test_nelson_aalen_property(spark, subjects):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import nelson_aalen

    df = spark.createDataFrame(
        [("g", d, int(e)) for d, e in subjects],
        "grp string, dur int, ev int",
    )
    rows = sorted(nelson_aalen(df, "grp", "dur", "ev").collect())

    durs = sorted({d for d, e in subjects if e})
    expect = []
    cum = 0
    for t in durs:
        n = sum(1 for d, _ in subjects if d >= t)
        dd = sum(1 for d, e in subjects if d == t and e)
        step = 1_000_000 * dd // n
        cum += step
        expect.append((t, n, dd, step, cum))
    got = [
        (r.dur, r.n_at_risk, r.d_events, r.hazard_step_e6, r.cum_hazard_e6)
        for r in rows
    ]
    assert got == expect


# unique canonical undirected edges, no self-loops: label_propagation
# does not dedup parallel edges (its callers groupBy first), so the
# generator feeds it the simple graphs its contract assumes; kcore_peel
# dedups internally but unique input keeps one replay model for both
_edges = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),
    min_size=1,
    max_size=20,
).map(
    lambda es: sorted({(min(a, b), max(a, b)) for a, b in es if a != b})
)


@given(edges=_edges, k=st.integers(1, 4))
@settings(**_SETTINGS)
def test_kcore_property(spark, edges, k):
    from dbt_gdpr_anonymizer_spark.operators.graph import kcore_peel

    if not edges:
        return
    df = spark.createDataFrame(edges, "src int, dst int")
    rows = kcore_peel(df, k=k, rounds=10).collect()

    E = {(min(a, b), max(a, b)) for a, b in edges}
    while True:
        deg = Counter()
        for u, v in E:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= k}
        E2 = {(u, v) for u, v in E if u in keep and v in keep}
        if E2 == E:
            break
        E = E2
    deg = Counter()
    for u, v in E:
        deg[u] += 1
        deg[v] += 1
    expect = sorted((n, d) for n, d in deg.items() if d >= k)
    assert sorted((r.node, r.degree) for r in rows) == expect


@given(edges=_edges)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lpa_property(spark, edges):
    from dbt_gdpr_anonymizer_spark.operators.graph import label_propagation

    if not edges:
        return
    rounds = 3
    df = spark.createDataFrame(edges, "src int, dst int")
    rows = label_propagation(df, rounds=rounds).collect()

    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    lab = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            votes = Counter(lab[m] for m in nbrs)
            best = min(votes, key=lambda lb: (-votes[lb], lb))
            new[n] = best
        lab = new
    got = {r.node: r.community for r in rows}
    assert got == lab
    sizes = Counter(lab.values())
    for r in rows:
        assert r.community_size == sizes[r.community]


@given(pairs=_series)
@settings(**_SETTINGS)
def test_cusum_property(spark, pairs):
    from dbt_gdpr_anonymizer_spark.operators.timeseries import cusum_fold

    df = spark.createDataFrame(
        [("g", t, x) for t, x in pairs], "grp string, t int, x int"
    )
    got = [
        (r.t, r.cusum_pos_nx, r.cusum_neg_nx)
        for r in sorted(cusum_fold(df, "grp", "t", "x").collect())
    ]
    n = len(pairs)
    tot = sum(x for _, x in pairs)
    sp = sn = 0
    expect = []
    for t, x in sorted(pairs):
        sp = max(0, sp + n * x - tot)
        sn = max(0, sn + tot - n * x)
        expect.append((t, sp, sn))
    assert got == expect
