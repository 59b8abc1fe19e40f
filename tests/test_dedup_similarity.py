"""Tests for the corpus dedup and similarity operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.dedup import (
    dedup_corpus,
    exact_dedup,
    lsh_candidate_pairs,
    neardup_pairs,
)
from dbt_gdpr_anonymizer_spark.operators.similarity import (
    cosine_topk,
    hyperplane_bucket,
    lsh_topk,
)
from tests.conftest import persistent_rdd_ids

BASE = (
    "spark shuffles data between stages when a wide dependency requires "
    "rows with the same key to meet on one executor and the optimizer "
    "cannot avoid the exchange"
)
NEAR = BASE.replace("optimizer", "planner")  # one-word edit -> high jaccard
DISTINCT = (
    "completely different content about cooking pasta with tomatoes basil "
    "garlic and olive oil in a large pot of salted boiling water tonight"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1 (same words, same order)
        (3, "  " + BASE.upper() + "!!"),  # normalizes to same fingerprint
        (4, NEAR),  # near-dup of 1
        (5, DISTINCT),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(corpus):
    out = exact_dedup(corpus).collect()
    survivors = sorted(r["doc_id"] for r in out)
    # 1,2,3 share a fingerprint -> survivor 1; 4 and 5 unique
    assert survivors == [1, 4, 5]
    assert len({r["fingerprint"] for r in out}) == 3


def test_lsh_candidates_cover_near_pairs_without_all_pairs(corpus):
    cands = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(corpus).collect()
    }
    # identical docs must be candidates; near-dup pair must be found
    assert (1, 2) in cands
    assert (1, 4) in cands
    # the unrelated doc should not pair with everything
    assert (1, 5) not in cands


def test_neardup_pairs_threshold_and_jaccard(corpus):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard_ppm"]
        for r in neardup_pairs(corpus, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1_000_000
    assert 500_000 <= pairs[(1, 4)] < 1_000_000
    assert (1, 5) not in pairs


def test_ngram_jaccard_matches_neardup_pairs_exactly(corpus):
    from dbt_gdpr_anonymizer_spark.operators.dedup import ngram_jaccard_pairs

    inv = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard_ppm"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    # exact Jaccard: identical docs 1.0, near pair in (0.5, 1), no junk
    assert inv[(1, 2)] == 1_000_000
    assert 500_000 <= inv[(1, 4)] < 1_000_000
    assert (1, 5) not in inv
    # inverted-index values agree with the LSH-verified path bit-exactly
    lsh = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard_ppm"]
        for r in neardup_pairs(corpus, threshold=0.5).collect()
    }
    assert inv == lsh


def test_dedup_corpus_end_to_end(corpus):
    survivors = sorted(
        r["doc_id"] for r in dedup_corpus(corpus, threshold=0.5).collect()
    )
    # exact dups 2,3 dropped; near-dup 4 loses to 1; 5 survives
    assert survivors == [1, 5]


@pytest.fixture(scope="module")
def vectors(spark):
    # 4-dim unit-ish vectors with known geometry
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(vectors, q, k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 4]
    expect = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(out[0]["cos_sim_ppm"] - expect * 1e6) <= 1


def test_cosine_topk_excludes_self(vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert all(
        r["vec_id"] != r["query_id"] for r in cosine_topk(vectors, q, k=5).collect()
    )


def test_hyperplane_bucket_deterministic(vectors):
    a = vectors.select(hyperplane_bucket(F.col("embedding"), 4, 8).alias("b"))
    assert a.collect() == a.collect()
    # opposite vectors land in complementary buckets (all 8 bits flip)
    vals = {
        r["vec_id"]: r["b"]
        for r in vectors.select(
            "vec_id", hyperplane_bucket(F.col("embedding"), 4, 8).alias("b")
        ).collect()
    }
    assert vals[0] == 255 - vals[3]


def test_lsh_topk_subset_of_bucket(vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(vectors, q, k=5, dim=4, bits=2)
    rows = out.collect()
    # approximate: results come only from the query's bucket, never self
    assert all(r["vec_id"] != 0 for r in rows)
    assert all(-1_000_000 <= r["cos_sim_ppm"] <= 1_000_000 for r in rows)


def test_simhash_neardup_finds_exact_and_near(spark, corpus):
    from dbt_gdpr_anonymizer_spark.operators.dedup import simhash_neardup_pairs

    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(corpus, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs -> identical simhash
    assert (1, 4) in pairs  # one-word edit -> tiny hamming distance
    assert pairs[(1, 4)] <= 3


def test_simhash_neardup_pigeonhole_guard(spark, corpus):
    from dbt_gdpr_anonymizer_spark.operators.dedup import simhash_neardup_pairs

    with pytest.raises(ValueError):
        simhash_neardup_pairs(corpus, max_hamming=4, chunks=4)


def test_embedding_neardup_planted_pair(spark):
    from dbt_gdpr_anonymizer_spark.operators.dedup import embedding_neardup_pairs

    rows = [
        (0, [1.0, 0.01, 0.0, 0.0]),
        (1, [0.99, 0.0, 0.01, 0.0]),  # cosine ~0.9999 with 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim_ppm"]
        for r in embedding_neardup_pairs(v, threshold=0.9, dim=4, bits=4).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 990_000
    assert all(2 not in p for p in pairs)


def test_ivf_topk_recall_on_clustered_data(spark):
    """With clearly clustered vectors, IVF with enough probes must recover
    the exact brute-force neighbors."""
    import math
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rows = []
    # two tight clusters on orthogonal axes, ids INTERLEAVED so the
    # first-nlist centroid seeding picks one seed per cluster
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 1.0, 0.001 * i, 0.0]))
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = v.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r["vec_id"] for r in cosine_topk(v, q, k=3).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk(v, q, k=3, nlist=2, nprobe=1).collect()
    }
    assert approx == exact  # full recall on separable clusters


def test_rolling_fingerprint_order_sensitive(spark):
    """Rabin-Karp fingerprint: equal for same token sequence (regardless of
    case/punctuation), different for reordered tokens, 0 for blank, and
    bit-equal to an independent Python reference of the Horner fold."""
    import hashlib

    from dbt_gdpr_anonymizer_spark.functions.text import rolling_fingerprint

    rows = [
        (1, "alpha beta gamma"),
        (2, "  ALPHA, beta -- gamma!"),  # same sequence after normalize
        (3, "gamma beta alpha"),  # reordered -> must differ
        (4, ""),
        (5, "   \t "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", rolling_fingerprint("text").alias("fp")
        ).collect()
    }

    def ref(tokens: list[str], base: int = 131, mod: int = 2147483647) -> int:
        acc = 0
        for t in tokens:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % mod
            acc = (acc * base + h) % mod
        return acc

    assert out[1] == out[2] == ref(["alpha", "beta", "gamma"])
    assert out[3] == ref(["gamma", "beta", "alpha"])
    assert out[1] != out[3]
    assert out[4] == 0 and out[5] == 0


def test_winnow_guarantee_shared_run_detected(spark):
    """Winnowing guarantee: a shared run of window+k-1 words (here 4+3-1=6)
    must yield at least one shared selected fingerprint; a disjoint doc
    shares none. Selection must also be sparse (fewer fingerprints than
    grams) on long docs."""
    from dbt_gdpr_anonymizer_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    shared = "quick brown foxes jump over lazy"  # 6-word shared run
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon zeta"),
        (2, "one two three " + shared + " four five six seven"),
        (3, DISTINCT),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=3, window=4)
    by_doc = {
        i: {r["fingerprint"] for r in fps.filter(F.col("doc_id") == i).collect()}
        for i in (1, 2, 3)
    }
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    # sparsity: doc 3 (~24 words -> 22 grams) keeps well under half
    assert len(by_doc[3]) < 11

    pairs = winnow_overlap_pairs(df, k=3, window=4, min_shared=1).collect()
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in pairs} == {(1, 2)}


def test_winnow_short_and_blank_docs(spark):
    """Docs shorter than k hash the whole sequence; blank docs still get
    exactly one fingerprint row (hash of '') rather than vanishing."""
    from dbt_gdpr_anonymizer_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "two words"), (2, "")], "doc_id long, text string"
    )
    out = winnow_fingerprints(df, k=3, window=4).collect()
    counts = {}
    for r in out:
        counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
    assert counts == {1: 1, 2: 1}


def test_kmeans_recovers_separable_clusters(spark):
    """On two well-separated direction clusters, kmeans_fit must converge to
    one centroid per cluster and ivf_assign must split membership exactly;
    refined centroids must give ivf_topk full recall with nprobe=1."""
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        kmeans_fit,
    )

    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 1.0, 0.001 * i, 0.0]))
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_fit(v, k=2, iters=3)
    assigned = ivf_assign(v, cents).collect()
    cells = {}
    for r in assigned:
        cells.setdefault(r["cell"], set()).add(r["vec_id"])
    groups = sorted(frozenset(s) for s in cells.values())
    assert groups == sorted(
        [frozenset(range(0, 20, 2)), frozenset(range(1, 20, 2))]
    )

    q = v.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r["vec_id"] for r in cosine_topk(v, q, k=3).collect()}
    refined = {
        r["vec_id"]
        for r in ivf_topk(
            v, q, k=3, nlist=2, nprobe=1, centroids=cents
        ).collect()
    }
    assert refined == exact


def test_scrub_pii_redacts_emails_and_phones(spark):
    """Emails and FR phone formats are replaced; surrounding text and
    non-PII digits survive; clean text passes through unchanged."""
    from dbt_gdpr_anonymizer_spark.functions.text import scrub_pii

    rows = [
        (1, "Contact jean.dupont@mairie.fr ou au +33 1 23 45 67 89 svp"),
        (2, "Appelez le 06.12.34.56.78 avant 2030"),
        (3, "Aucune donnee sensible ici, budget 12345 euros"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", scrub_pii("text").alias("s")).collect()
    }
    assert out[1] == "Contact [EMAIL] ou au [PHONE] svp"
    assert out[2] == "Appelez le [PHONE] avant 2030"
    assert out[3] == "Aucune donnee sensible ici, budget 12345 euros"
    assert out[4] is None


def test_cache_tracking_and_release(spark, corpus):
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    # an earlier test's unreleased cache of the same plan would make this
    # persist a no-op ("already cached data")
    release_caches(corpus)
    before = persistent_rdd_ids(spark)
    pairs = neardup_pairs(corpus, threshold=0.5)
    pairs.collect()
    assert persistent_rdd_ids(spark) - before, (
        "neardup_pairs must persist its shingle sets"
    )
    release_caches(pairs)
    assert not persistent_rdd_ids(spark) - before
    release_caches(pairs)  # idempotent


def test_release_frees_caches_of_a_query_that_raised(spark, corpus):
    """A query that raises after its operator persisted returns no frame
    to release; the session's next release_caches still frees the cache."""
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    def failing_query():
        pairs = neardup_pairs(corpus, threshold=0.5)
        pairs.collect()
        raise RuntimeError("a later step of the query failed")

    release_caches(corpus)
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="later step"):
        failing_query()
    assert persistent_rdd_ids(spark) - before
    release_caches(corpus)
    assert not persistent_rdd_ids(spark) - before


def test_cosine_topk_guard_blocks_oversized_corpus(vectors):
    """The brute-force tier must fail fast past max_corpus_rows with a
    pointer to the scale tiers, and run when capped corpora fit."""
    import pytest as _pytest

    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(ValueError, match="lsh_topk"):
        cosine_topk(vectors, q, k=2, max_corpus_rows=2)
    assert cosine_topk(vectors, q, k=2, max_corpus_rows=None).count() == 2


def test_kmeans_sample_fit_matches_full_fit(spark):
    """Sample-fit (fit_sample_n) and full-corpus fit must recover the same
    cluster structure on the separable fixture: identical cell membership
    and near-identical normalized centroids."""
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        ivf_assign,
        kmeans_fit,
    )

    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 1.0, 0.001 * i, 0.0]))
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    full = kmeans_fit(v, k=2, iters=3, fit_sample_n=None)
    sampled = kmeans_fit(v, k=2, iters=3, fit_sample_n=20)

    def membership(cents):
        cells = {}
        for r in ivf_assign(v, cents).collect():
            cells.setdefault(r["cell"], set()).add(r["vec_id"])
        return sorted(frozenset(s) for s in cells.values())

    expected = sorted(
        [frozenset(range(0, 40, 2)), frozenset(range(1, 40, 2))]
    )
    assert membership(full) == expected
    assert membership(sampled) == expected

    fc = {r["centroid_id"]: r["embedding"] for r in full.collect()}
    sc = {r["centroid_id"]: r["embedding"] for r in sampled.collect()}
    # centroid ids may map to opposite clusters; compare per dominant axis
    def by_axis(cents):
        return {
            max(range(4), key=lambda d: abs(c[d])): c
            for c in cents.values()
        }

    fa, sa = by_axis(fc), by_axis(sc)
    assert set(fa) == set(sa)
    for axis in fa:
        assert all(abs(a - b) < 0.02 for a, b in zip(fa[axis], sa[axis]))
