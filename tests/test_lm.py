"""X128 bigram LM perplexity scoring (operators/lm): hand-computed
Laplace-smoothed scores on a tiny corpus, short-document semantics, and
the shared-scan/no-UDF plan contract."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
from dbt_gdpr_anonymizer_spark.operators.lm import (
    bigram_array,
    bigram_lm_scores,
)
from tests.conftest import persistent_rdd_ids


def _corpus(spark):
    return spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "c"), (4, "")],
        "doc_id long, text string",
    )


def test_bigram_array(spark):
    df = spark.createDataFrame(
        [(1, ["x", "y", "z"]), (2, ["solo"]), (3, [])],
        "id long, ws array<string>",
    )
    got = {
        r.id: list(r.bg)
        for r in df.select(
            "id", bigram_array(F.col("ws")).alias("bg")
        ).collect()
    }
    assert got == {1: ["x y", "y z"], 2: [], 3: []}


def test_hand_computed_scores(spark):
    # unigrams: a=3 b=2 c=1 -> V=3; bigrams: "a b"=2, "b a"=1
    # doc1: -ln((2+1)/(3+3)) + -ln((1+1)/(2+3)) over 2 events
    # doc2: -ln((2+1)/(3+3)) over 1 event
    out = bigram_lm_scores(_corpus(spark))
    rows = {r.doc_id: r for r in out.collect()}
    release_caches(out)
    assert rows[1].n_bigrams == 2
    want1 = (-math.log(3 / 6) - math.log(2 / 5)) / 2
    assert abs(rows[1].xent - want1) < 1e-12
    assert rows[2].n_bigrams == 1
    assert abs(rows[2].xent - (-math.log(3 / 6))) < 1e-12
    # <2 tokens: zero events, NULL score, row still present
    assert rows[3].n_bigrams == 0 and rows[3].xent is None
    assert rows[4].n_bigrams == 0 and rows[4].xent is None
    assert set(rows) == {1, 2, 3, 4}


def test_smoothed_probability_bounds(spark):
    """Laplace smoothing keeps every event probability in (0, 1]:
    xent is non-negative wherever defined."""
    out = bigram_lm_scores(_corpus(spark))
    bad = out.filter(F.col("xent") < 0).count()
    release_caches(out)
    assert bad == 0


def test_plan_has_no_python_and_releases_cache(spark):
    release_caches(_corpus(spark))  # no earlier cache of the same plan
    before = persistent_rdd_ids(spark)
    out = bigram_lm_scores(_corpus(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    out.collect()
    assert persistent_rdd_ids(spark) - before, "events frame must be cached"
    release_caches(out)
    assert not persistent_rdd_ids(spark) - before


def test_trigram_array(spark):
    from dbt_gdpr_anonymizer_spark.operators.lm import trigram_array

    df = spark.createDataFrame(
        [(1, ["x", "y", "z", "w"]), (2, ["a", "b"]), (3, [])],
        "id long, ws array<string>",
    )
    got = {
        r.id: list(r.tg)
        for r in df.select(
            "id", trigram_array(F.col("ws")).alias("tg")
        ).collect()
    }
    assert got == {1: ["x y z", "y z w"], 2: [], 3: []}


def test_trigram_scores_match_python_reference(spark):
    """Interpolated trigram xent == the python replay of the count
    tables and the lambda-weighted Laplace mixture, with short-document
    semantics (n<3 -> (0, NULL))."""
    from dbt_gdpr_anonymizer_spark.operators.lm import trigram_lm_scores

    rows = [
        (1, "a b a b c"),
        (2, "a b c"),
        (3, "b a b"),
        (4, "a b"),  # 2 tokens -> no trigram
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = trigram_lm_scores(df)
    got = {r.doc_id: (r.n_trigrams, r.xent) for r in out.collect()}
    release_caches(out)

    toks = {i: (t or "").split() for i, t in rows}
    uni: dict = {}
    bg: dict = {}
    tri: dict = {}
    for ws in toks.values():
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for j in range(len(ws) - 1):
            k = f"{ws[j]} {ws[j + 1]}"
            bg[k] = bg.get(k, 0) + 1
        for j in range(len(ws) - 2):
            k = f"{ws[j]} {ws[j + 1]} {ws[j + 2]}"
            tri[k] = tri.get(k, 0) + 1
    v, t = len(uni), sum(uni.values())

    def nll(w1, w2, w3):
        p = (
            0.6 * (tri[f"{w1} {w2} {w3}"] + 1.0) / (bg[f"{w1} {w2}"] + v)
            + 0.3 * (bg[f"{w2} {w3}"] + 1.0) / (uni[w2] + v)
            + 0.1 * (uni[w3] + 1.0) / (t + v)
        )
        return -math.log(p)

    for i, ws in toks.items():
        n = max(0, len(ws) - 2)
        assert got[i][0] == n, i
        if n == 0:
            assert got[i][1] is None, i
        else:
            ref = sum(
                nll(ws[j], ws[j + 1], ws[j + 2]) for j in range(n)
            ) / n
            assert abs(got[i][1] - ref) < 1e-12, i


def test_trigram_releases_caches(spark):
    from dbt_gdpr_anonymizer_spark.operators.lm import trigram_lm_scores

    before = persistent_rdd_ids(spark)
    out = trigram_lm_scores(_corpus(spark))
    out.collect()
    release_caches(out)
    assert not persistent_rdd_ids(spark) - before


def test_kn_hand_computed_scores(spark):
    """Interpolated Kneser-Ney on the tiny corpus, fully hand-computed.

    corpus bigrams: doc1 "a b a" -> {a b, b a}; doc2 "a b" -> {a b}
    bigram counts: c(a b)=2, c(b a)=1; types nt=2
    prefix:  c(a.)=2, N1+(a .)=1 ; c(b.)=1, N1+(b .)=1
    continuation: N1+(. b)=1, N1+(. a)=1
    P(b|a) = max(2-0.75,0)/2 + (0.75*1/2)*(1/2) = 0.625 + 0.1875 = 0.8125
    P(a|b) = max(1-0.75,0)/1 + (0.75*1/1)*(1/2) = 0.25  + 0.375  = 0.625
    """
    from dbt_gdpr_anonymizer_spark.operators.lm import kn_bigram_lm_scores

    out = kn_bigram_lm_scores(_corpus(spark))
    rows = {r.doc_id: r for r in out.collect()}
    release_caches(out)
    p_ba = 0.8125
    p_ab = 0.625
    assert rows[1].n_bigrams == 2
    assert abs(rows[1].xent - (-math.log(p_ba) - math.log(p_ab)) / 2) < 1e-12
    assert rows[2].n_bigrams == 1
    assert abs(rows[2].xent - (-math.log(p_ba))) < 1e-12
    assert rows[3].n_bigrams == 0 and rows[3].xent is None
    assert rows[4].n_bigrams == 0 and rows[4].xent is None


def test_kn_probabilities_sum_to_one(spark):
    """The KN mixture is a PROPER conditional distribution: for a fixed
    context w1, summing P_KN(w2|w1) over the OBSERVED continuations plus
    the backoff mass assigned to unseen ones equals 1. With self-scored
    corpora only observed pairs surface, so verify via the model
    identity: sum_observed [max(c-D,0)/c1] + (D*n1f/c1) * 1 == 1, i.e.
    the discounted mass exactly equals lambda because continuation
    probabilities sum to 1 over the full vocabulary."""
    # richer corpus: contexts with several continuations
    import itertools

    docs = [(1, "x y x z x y"), (2, "y z y x"), (3, "z z x")]
    # python reference
    toks = {i: t.split() for i, t in docs}
    bgs = list(
        itertools.chain.from_iterable(
            zip(ws, ws[1:]) for ws in toks.values()
        )
    )
    from collections import Counter

    c12 = Counter(bgs)
    D = 0.75
    for w1 in {a for a, _ in c12}:
        conts = {b: c for (a, b), c in c12.items() if a == w1}
        c1 = sum(conts.values())
        n1f = len(conts)
        discounted = sum(max(c - D, 0.0) / c1 for c in conts.values())
        lam = D * n1f / c1
        assert abs(discounted + lam - 1.0) < 1e-12


def test_kn_matches_python_reference(spark):
    """End-to-end equality against an independent python replay on a
    mixed corpus (repeats, singletons, shared continuations)."""
    import math as m
    from collections import Counter

    from dbt_gdpr_anonymizer_spark.operators.lm import kn_bigram_lm_scores

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "cat and dog and cat"),
        (4, "solo"),
        (5, "the cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = kn_bigram_lm_scores(df)
    rows = {r.doc_id: (r.n_bigrams, r.xent) for r in out.collect()}
    release_caches(out)

    toks = {i: t.split() for i, t in docs}
    c12 = Counter()
    for ws in toks.values():
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] += 1
    D = 0.75
    c1 = Counter()
    n1f = Counter()
    n1p = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1f[a] += 1
        n1p[b] += 1
    nt = len(c12)

    def p_kn(a, b):
        return max(c12[(a, b)] - D, 0.0) / c1[a] + D * n1f[a] / c1[a] * (
            n1p[b] / nt
        )

    for i, ws in toks.items():
        ev = list(zip(ws, ws[1:]))
        if not ev:
            assert rows[i] == (0, None)
            continue
        want = sum(-m.log(p_kn(a, b)) for a, b in ev) / len(ev)
        assert rows[i][0] == len(ev)
        assert abs(rows[i][1] - want) < 1e-9, i


def test_pmi_collocations_matches_python_reference(spark):
    """Exact equality against an independent python replay: pair counts,
    positional marginals, the ln mixture, floor release, tie order."""
    import math as m
    from collections import Counter

    from dbt_gdpr_anonymizer_spark.operators.lm import pmi_collocations

    docs = [
        (1, "new york city new york state"),
        (2, "new york new jersey"),
        (3, "machine learning and machine learning"),
        (4, "york machine"),
        (5, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_collocations(df, min_count=2, k=100)
    rows = [(r.pair, r.n_pair, r.pmi_e4) for r in out.collect()]
    release_caches(out)

    c12 = Counter()
    for _, t in docs:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    c2 = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        c2[b] += c
    t_tot = sum(c12.values())
    want = []
    for (a, b), c in c12.items():
        if c < 2:
            continue
        pmi = m.log(c * t_tot / (c1[a] * c2[b]))
        want.append((f"{a} {b}", c, m.floor(pmi * 10000)))
    want.sort(key=lambda r: (-r[2], r[0]))
    assert rows == want
    assert any(p == "new york" for p, _, _ in rows)


def test_pmi_min_count_filters(spark):
    from dbt_gdpr_anonymizer_spark.operators.lm import pmi_collocations

    df = spark.createDataFrame(
        [(1, "a b a b c d")], "doc_id long, text string"
    )
    out = pmi_collocations(df, min_count=2, k=10)
    rows = out.collect()
    release_caches(out)
    assert [r.pair for r in rows] == ["a b"]  # only pair with count >= 2


def test_kn_property_vs_python_replay(spark):
    """Hypothesis: KN scores on arbitrary corpora equal the replay."""
    import math as m
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dbt_gdpr_anonymizer_spark.operators.lm import kn_bigram_lm_scores

    token = st.sampled_from("abcde")
    doc = st.lists(token, min_size=0, max_size=8).map(" ".join)

    @given(corpus=st.lists(doc, min_size=1, max_size=6))
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(corpus):
        df = spark.createDataFrame(
            list(enumerate(corpus)), "doc_id long, text string"
        )
        out = kn_bigram_lm_scores(df)
        rows = {r.doc_id: (r.n_bigrams, r.xent) for r in out.collect()}
        release_caches(out)

        toks = {i: t.split() for i, t in enumerate(corpus)}
        c12 = Counter()
        for ws in toks.values():
            for a, b in zip(ws, ws[1:]):
                c12[(a, b)] += 1
        D = 0.75
        c1, n1f, n1p = Counter(), Counter(), Counter()
        for (a, b), c in c12.items():
            c1[a] += c
            n1f[a] += 1
            n1p[b] += 1
        nt = len(c12)

        def p_kn(a, b):
            return max(c12[(a, b)] - D, 0.0) / c1[a] + D * n1f[a] / c1[
                a
            ] * (n1p[b] / nt)

        for i, ws in toks.items():
            ev = list(zip(ws, ws[1:]))
            if not ev:
                assert rows[i] == (0, None), i
                continue
            want = sum(-m.log(p_kn(a, b)) for a, b in ev) / len(ev)
            assert rows[i][0] == len(ev)
            assert abs(rows[i][1] - want) < 1e-9, i

    run()
