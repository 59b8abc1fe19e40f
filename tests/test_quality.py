"""operators/quality additions: X139 char-entropy gibberish gate."""


def test_char_entropy_profile(spark):
    """X139: entropy in nats (floor*1e4), integer companions, and the
    empty/NULL contract."""
    import math
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        char_entropy_profile,
    )

    rows = [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: tuple(r)[1:] for r in char_entropy_profile(df).collect()}
    assert got[1] == (4, 1, 4, 16, 0)  # zero entropy, max collision
    assert got[2] == (4, 2, 2, 8, math.floor(math.log(2) * 10000))
    assert got[3] == (4, 4, 1, 4, math.floor(math.log(4) * 10000))
    assert got[4] == (0, 0, None, 0, None)
    assert got[5] == (0, 0, None, 0, None)


def test_char_entropy_code_points(spark):
    """The r10 contract: characters are CODE POINTS (what the DuckDB
    oracle's regexp_split_to_array produces), not UTF-16 code units —
    an astral-plane char (U+1F600) counts once, not as two surrogates."""
    import math
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        char_entropy_profile,
    )

    df = spark.createDataFrame(
        [(1, "\U0001F600\U0001F600a")], ["doc_id", "text"]
    )
    (r,) = char_entropy_profile(df).collect()
    assert r.n_chars == 3
    assert r.n_distinct_chars == 2
    assert r.top_char_count == 2
    assert r.simpson_num == 5
    # entropy of {2/3, 1/3}, folded code-point ascending ('a' < emoji)
    p1, p2 = 1 / 3, 2 / 3
    want = -((p1 * math.log(p1)) + (p2 * math.log(p2)))
    assert r.entropy_e4 == math.floor(want * 10000)


def test_readability_profile(spark):
    """X175 Flesch-Kincaid: hand-checked counts + a python replay of the
    exact float chain."""
    import math

    from dbt_gdpr_anonymizer_spark.operators.quality import (
        readability_profile,
    )

    docs = [
        (1, "The cat sat."),
        (2, "rhythm tv"),
        (3, "Hello world! How are you? Fine."),
        (4, "42 cats"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r.doc_id: r for r in readability_profile(df).collect()}

    def fk(w, s, syl):
        return math.floor((0.39 * (w / s) + 11.8 * (syl / w) - 15.59) * 100)

    r1 = rows[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (3, 1, 3)
    assert r1.fk_grade_e2 == fk(3, 1, 3)

    r2 = rows[2]  # rhythm: y vowel-group; tv: vowel-less word -> 1 each
    assert (r2.n_words, r2.n_sentences, r2.n_syllables) == (2, 1, 2)
    assert r2.fk_grade_e2 == fk(2, 1, 2)

    r3 = rows[3]
    assert r3.n_sentences == 3
    assert r3.n_words == 6
    # hello(e,o) world(o) how(o) are(a,e->"are" = a,e: 'a','e' two groups)
    # you(ou one group) fine(i,e two groups)
    assert r3.n_syllables == 9
    assert r3.fk_grade_e2 == fk(6, 3, 9)

    r4 = rows[4]  # "42" contributes zero syllables by contract
    assert (r4.n_words, r4.n_syllables) == (2, 1)

    assert tuple(rows[5])[1:] == (0, 0, 0, None)
    assert tuple(rows[6])[1:] == (0, 0, 0, None)


def test_readability_non_ascii_boundary_parity(spark):
    """The reason for the ASCII normalization: Java's \\b is
    Unicode-aware, RE2's is ASCII-only — on raw text they disagree at
    non-ASCII letters. With the normalized copy both engines must count
    the same consonant runs; pin Spark against the DuckDB oracle regex
    on a non-ASCII fixture."""
    import duckdb

    from dbt_gdpr_anonymizer_spark.operators.quality import (
        readability_profile,
    )

    docs = [(1, "crêpe du chef"), (2, "São tv")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_words, r.n_syllables) for r in
        readability_profile(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create table t as select * from (values (1, ?), (2, ?))"
        " v(doc_id, s)",
        [docs[0][1], docs[1][1]],
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            r"""
            select doc_id,
              case when trim(s) = '' then 0
                   else len(string_split_regex(trim(s), '\s+')) end,
              len(regexp_extract_all(lower(s), '[aeiouy]+'))
              + len(regexp_extract_all(
                    regexp_replace(lower(s), '[^a-z0-9]', ' ', 'g'),
                    '\b[b-df-hj-np-tv-xz]+\b'))
            from t
            """
        ).fetchall()
    }
    assert got == want
    # crêpe -> 'cr pe': 'cr' is a vowel-less run (+1), 'pe' has 'e';
    # 'du' and 'chef' one group each -> 4 total for doc 1
    assert got[1] == (3, 4)


# ------------------------------------------------------ source overlap matrix


def test_source_overlap_matrix_exact_counts(spark):
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        source_overlap_matrix,
    )

    docs = spark.createDataFrame(
        [
            (1, "a", "the quick brown fox jumps"),
            (2, "b", "the quick brown cat sits"),
            (3, "c", "entirely different words here now"),
            (4, "b", "quick brown fox again"),
        ],
        "doc_id bigint, source string, text string",
    )
    got = {
        (r.source_a, r.source_b): r
        for r in source_overlap_matrix(docs, n=3).collect()
    }
    # source a grams: {the quick brown, quick brown fox, brown fox jumps}
    # source b grams: {the quick brown, quick brown cat, brown cat sits,
    #                  quick brown fox, brown fox again}
    ab = got[("a", "b")]
    assert ab.shared_grams == 2  # 'the quick brown', 'quick brown fox'
    assert ab.grams_a == 3 and ab.grams_b == 5
    assert ab.jaccard_ppm == (2 * 1000000) // (3 + 5 - 2)
    # c overlaps nobody -> absent
    assert all("c" not in k for k in got)


def test_source_overlap_matrix_release_caches(spark):
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        source_overlap_matrix,
    )
    from tests.conftest import persistent_rdd_ids

    docs = spark.createDataFrame(
        [(1, "a", "one two three four"), (2, "b", "two three four five")],
        "doc_id bigint, source string, text string",
    )
    before = persistent_rdd_ids(spark)
    out = source_overlap_matrix(docs, n=3)
    out.collect()
    assert persistent_rdd_ids(spark) - before
    release_caches(out)
    assert not persistent_rdd_ids(spark) - before
