"""X172 directed n-gram containment near-dup pairs, and losslessness of
the three prefix-filter similarity joins against all-pairs replays."""

import itertools
import math

import pytest

from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
from dbt_gdpr_anonymizer_spark.operators.dedup import (
    containment_pairs,
    edit_distance_pairs,
    ngram_jaccard_pairs,
)


def _grams(t, n=3):
    ws = t.split()
    if len(ws) >= n:
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
    return {" ".join(ws)}


def _replay(docs, t_ppm, n=3):
    gs = {d: _grams(txt, n) for d, txt in docs}
    out = set()
    for (a, sa), (b, sb) in itertools.permutations(gs.items(), 2):
        c = 1_000_000 * len(sa & sb) // len(sa)
        if c >= t_ppm:
            out.add((a, b, c))
    return out


def test_containment_matches_bruteforce(spark):
    """Asymmetric case: doc 2 is a verbatim quote inside the much longer
    doc 1 — containment(2→1) = 1e6 while Jaccard is far below 0.9; the
    reverse direction must NOT fire."""
    long_doc = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = [
        (1, long_doc),
        (2, "delta epsilon zeta eta theta"),  # contained in 1
        (3, "completely different words entirely here now"),
        (4, long_doc),  # exact dup of 1: both directions fire
        (5, "one two"),  # short text -> single whole-text gram
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = containment_pairs(df, threshold=0.9)
    got = {(r.id_a, r.id_b, r.containment_ppm) for r in out.collect()}
    release_caches(out)
    want = _replay(docs, 900_000)
    assert got == want
    assert (2, 1, 1_000_000) in got  # quote flagged
    assert not any(a == 1 and b == 2 for a, b, _ in got)  # not reverse
    assert (1, 4, 1_000_000) in got and (4, 1, 1_000_000) in got


def _jaccard_replay(docs, t, n=3):
    gs = {d: _grams(txt, n) for d, txt in docs}
    out = set()
    for (a, sa), (b, sb) in itertools.combinations(gs.items(), 2):
        j = len(sa & sb) / len(sa | sb)
        if j >= t:
            out.add((a, b, math.floor(j * 1_000_000)))
    return out


def _levenshtein(s, t):
    prev = list(range(len(t) + 1))
    for i, x in enumerate(s, 1):
        cur = [i]
        for j, y in enumerate(t, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (x != y)))
        prev = cur
    return prev[-1]


def _edit_replay(docs, d):
    out = set()
    for (a, sa), (b, sb) in itertools.combinations(docs, 2):
        e = _levenshtein(sa, sb)
        if e <= d:
            out.add((a, b, e))
    return out


_VOCAB = "a b c d e f g h i j k l m n o p".split()
_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_WORDS = [f"w{i}" for i in range(27)]
# 24 generated docs plus two pairs that sit exactly on a prefix bound:
# * 24 has 25 grams and 25 is a 14-gram run of it, so Jaccard is exactly
#   0.56 and t·n = 14 is an integer, but 0.56 * 25 is 14.000000000000002
#   in floats: a float ceil gives 15, doc 24's prefix then holds only its
#   11 private grams and the pair is lost;
# * 27 is 26 with 4 substitutions 6 chars apart: edit distance 4 with
#   q-gram overlap exactly L − q·d, each doc's private grams rarest, so
#   only the last of the q·d + 1 prefix tokens is shared.
LOSSLESS_DOCS = [
    (i, " ".join(_VOCAB[(i * 3 + j * 5) % 16] for j in range(4 + i % 9)))
    for i in range(24)
] + [
    (24, " ".join(_WORDS)),
    (25, " ".join(_WORDS[:16])),
    (26, _ALPHABET),
    (27, "AB0DEFGH1JKLMN2PQRST3VWXYZ"),
]

# operator (rows are (id_a, id_b, score)), exact all-pairs replay,
# thresholds. Edit distance 4 and 5 send the longer docs through the
# prefix branch, not the short-doc bucket branch.
LOSSLESS_CASES = {
    "containment": (
        lambda df, t: containment_pairs(df, threshold=t),
        lambda docs, t: _replay(docs, round(t * 1_000_000)),
        [0.7, 0.9],
    ),
    "jaccard": (
        lambda df, t: ngram_jaccard_pairs(df, threshold=t),
        _jaccard_replay,
        [0.56, 0.7],
    ),
    "edit_distance": (
        lambda df, d: edit_distance_pairs(df, max_distance=d),
        _edit_replay,
        [4, 5],
    ),
}


@pytest.mark.parametrize("op", sorted(LOSSLESS_CASES))
def test_prefix_filter_is_lossless(spark, op):
    """Each prefix-filter join (one shared df-ordered prefix kernel) must
    equal its all-pairs replay exactly on a randomized-ish corpus: full
    recall at the threshold, exact scores."""
    run, replay, thresholds = LOSSLESS_CASES[op]
    df = spark.createDataFrame(LOSSLESS_DOCS, "doc_id long, text string")
    for t in thresholds:
        out = run(df, t)
        rows = [tuple(r) for r in out.collect()]
        release_caches(out)
        want = replay(LOSSLESS_DOCS, t)
        assert want, (op, t)  # the corpus must exercise the threshold
        assert len(rows) == len(set(rows)) and set(rows) == want, (op, t)
