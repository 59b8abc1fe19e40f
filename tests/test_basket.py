"""operators/basket: X179 Apriori-pruned frequent pairs + rules."""

from collections import Counter
from itertools import combinations


BASKETS = [
    (1, ["milk", "bread", "butter"]),
    (2, ["milk", "bread"]),
    (3, ["milk", "eggs"]),
    (4, ["bread", "butter"]),
    (5, ["milk", "bread", "eggs", "milk"]),  # dup item in basket
    (6, ["tea"]),
    (7, ["milk", "bread"]),
    (8, ["bread", "butter", "milk"]),
]


def _rows(spark):
    return spark.createDataFrame(
        [(b, i) for b, items in BASKETS for i in items],
        ["basket", "item"],
    )


def _replay(min_support):
    sets = {b: set(items) for b, items in BASKETS}
    nb = len(sets)
    c1 = Counter(i for s in sets.values() for i in s)
    freq = {i for i, c in c1.items() if c >= min_support}
    c12 = Counter()
    for s in sets.values():
        for a, b in combinations(sorted(s & freq), 2):
            c12[(a, b)] += 1
    pairs = {p: c for p, c in c12.items() if c >= min_support}
    rules = {}
    for (a, b), c in pairs.items():
        for ante, cons in ((a, b), (b, a)):
            rules[(ante, cons)] = (
                c,
                1_000_000 * c // nb,
                1_000_000 * c // c1[ante],
                1_000_000 * c * nb // (c1[ante] * c1[cons]),
            )
    return pairs, rules


def test_frequent_pairs_match_replay(spark):
    from dbt_gdpr_anonymizer_spark.operators.basket import frequent_pairs
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    out = frequent_pairs(_rows(spark), "basket", "item", min_support=3)
    rows = out.collect()
    release_caches(out)
    pairs, _ = _replay(3)
    assert {(r.item_a, r.item_b): r.pair_support for r in rows} == pairs
    # milk+bread co-occur in baskets 1,2,5,7,8
    assert pairs[("bread", "milk")] == 5


def test_apriori_prune_excludes_infrequent_items(spark):
    from dbt_gdpr_anonymizer_spark.operators.basket import frequent_pairs
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    out = frequent_pairs(_rows(spark), "basket", "item", min_support=4)
    rows = out.collect()
    release_caches(out)
    seen = {r.item_a for r in rows} | {r.item_b for r in rows}
    # eggs (2 baskets), butter (3), tea (1) are below support 4
    assert seen <= {"milk", "bread"}


def test_association_rules_match_replay(spark):
    from dbt_gdpr_anonymizer_spark.operators.basket import (
        association_rules,
    )
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    out = association_rules(_rows(spark), "basket", "item", min_support=3)
    rows = out.collect()
    release_caches(out)
    _, want = _replay(3)
    got = {
        (r.antecedent, r.consequent): (
            r.pair_support,
            r.support_ppm,
            r.conf_ppm,
            r.lift_e6,
        )
        for r in rows
    }
    assert got == want
    # both directions of every pair are released, each once
    assert all((b, a) in got for a, b in got)
    assert len(rows) == len(got)


def test_rules_lift_symmetry_and_confidence_bounds(spark):
    from dbt_gdpr_anonymizer_spark.operators.basket import (
        association_rules,
    )
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    out = association_rules(_rows(spark), "basket", "item", min_support=2)
    rows = out.collect()
    release_caches(out)
    by_pair = {}
    for r in rows:
        assert 0 < r.conf_ppm <= 1_000_000
        by_pair.setdefault(
            tuple(sorted((r.antecedent, r.consequent))), []
        ).append(r.lift_e6)
    # lift is direction-independent (integral division of the same
    # product): both directions release the identical value
    for lifts in by_pair.values():
        assert len(lifts) == 2 and lifts[0] == lifts[1]
