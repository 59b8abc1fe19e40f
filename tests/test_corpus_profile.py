"""Units for the corpus-profiling operators: Zipf word-frequency table,
per-language quality deciles, and streaming exact dedup invariance."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.queries import QUERIES


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def _write_parquet_dir(spark, rows, path):
    """Write `rows` as a SINGLE parquet file at `path` (the testdata
    layout — sf dirs hold one file per table, which the streaming
    entries' pathGlobFilter relies on)."""
    import glob
    import shutil

    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string, n_lines long"
    )
    tmp = path + "_dir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.copyfile(part, path)
    shutil.rmtree(tmp)


def test_word_frequency_zipf_counts_and_shares(spark, tmp_path):
    """Known tiny corpus: ranks follow count desc (word tiebreak), the
    cumulative share is monotone, and — with the whole vocabulary inside
    the top-100 — the last cumulative share is exactly 1e6 ppm."""
    sf = str(tmp_path / "sf")
    _write_parquet_dir(
        spark,
        [
            (1, "en", "web", "alpha alpha alpha beta beta gamma", 1),
            (2, "en", "web", "alpha beta delta", 1),
        ],
        f"{sf}/documents.parquet",
    )
    out = sorted(
        QUERIES["word_frequency_zipf"](spark, sf).collect(),
        key=lambda r: r["rank"],
    )
    by_rank = [(r["word"], r["n_occurrences"], r["cum_share_ppm"]) for r in out]
    # counts: alpha 4, beta 3, delta 1, gamma 1 (delta < gamma alphabetical)
    assert [w for w, _, _ in by_rank] == ["alpha", "beta", "delta", "gamma"]
    assert [n for _, n, _ in by_rank] == [4, 3, 1, 1]
    shares = [s for _, _, s in by_rank]
    assert shares == sorted(shares)
    assert shares[-1] == 1_000_000  # full vocab covered -> exactly 100%
    assert all(r["vocab_size"] == 4 for r in out)
    # spot value: alpha = 4/9 -> floor(4444444.44/10) ppm via integral div
    assert shares[0] == 4 * 1_000_000 // 9


def test_quality_deciles_partition_per_language(spark, tmp_path):
    """20 docs in one language split 2-per-decile; a second language's
    deciles are computed independently (partitioned window)."""
    sf = str(tmp_path / "sf")
    rows = [
        (i, "en", "web", "w " * (i + 1), 1) for i in range(20)
    ] + [(100 + i, "fr", "web", "m " * (i + 1), 1) for i in range(5)]
    _write_parquet_dir(spark, rows, f"{sf}/documents.parquet")
    out = QUERIES["quality_deciles_documents"](spark, sf).collect()
    en = sorted(
        (r["n_tokens"], r["decile"]) for r in out if r["lang"] == "en"
    )
    # 20 rows / 10 buckets = exactly 2 per decile, in token order
    assert [d for _, d in en] == [1 + i // 2 for i in range(20)]
    fr = sorted((r["n_tokens"], r["decile"]) for r in out if r["lang"] == "fr")
    # 5 rows into 10 buckets: ntile assigns one row each to deciles 1..5
    assert [d for _, d in fr] == [1, 2, 3, 4, 5]


def test_stream_dedup_emits_fingerprint_invariants_once(spark, tmp_path):
    """Two documents with the same word SET in different order/punctuation
    share a fingerprint: exactly one survivor row, and its compared
    columns (fingerprint, n_distinct_words) are identical whichever
    arrival won."""
    sf = str(tmp_path / "sf")
    _write_parquet_dir(
        spark,
        [
            (1, "en", "web", "spark shuffles data fast", 1),
            (2, "en", "web", "Fast!! data... SHUFFLES spark", 1),  # same set
            (3, "en", "web", "a different document entirely", 1),
        ],
        f"{sf}/documents.parquet",
    )
    out = QUERIES["stream_dedup_documents"](spark, sf).collect()
    assert len(out) == 2
    ndw = {r["fingerprint"]: r["n_distinct_words"] for r in out}
    assert sorted(ndw.values()) == [4, 4]  # both docs have 4 distinct words


def test_chunk_documents_overlap_and_boundaries(spark):
    """Chunks slide by max_tokens − overlap: adjacent chunks share exactly
    `overlap` tokens, the tail chunk is short, sub-budget docs emit one
    chunk, and empty docs emit none."""
    import pytest as _pytest

    from dbt_gdpr_anonymizer_spark.operators.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))  # 25 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "   ")], ["doc_id", "text"]
    )
    out = chunk_documents(df, max_tokens=10, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["n_chunk_tokens"])
        )
    # doc 1: starts 0,6,12,18,24 -> lengths 10,10,10,7,1
    assert sorted(by_doc[1]) == [(0, 10), (1, 10), (2, 10), (3, 7), (4, 1)]
    assert sorted(by_doc[2]) == [(0, 2)]
    assert 3 not in by_doc  # empty doc: no chunks
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_boilerplate_line_filter_drops_cross_doc_lines_keeps_order(spark):
    """Lines shared by ≥ min_doc_freq docs vanish corpus-wide; unique
    lines survive in original order; blank lines never count as
    boilerplate; a doc of pure boilerplate rebuilds to ''. """
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        boilerplate_line_filter,
    )

    footer = "COPYRIGHT FOOTER"
    rows = [
        (1, f"unique alpha\n{footer}\nunique beta"),
        (2, f"{footer}\n\nunique gamma"),
        (3, footer),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_line_filter(df, min_doc_freq=3).collect()
    }
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_dropped"] == 1
    # blank line kept (structure), footer dropped
    assert out[2]["clean_text"] == "\nunique gamma"
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0
    # below threshold nothing drops
    out2 = boilerplate_line_filter(df, min_doc_freq=4).collect()
    assert all(r["n_lines_dropped"] == 0 for r in out2)


def test_cross_doc_span_profile_planted_spans(spark):
    """Planted cross-doc spans: docs 1 and 2 share a 7-word template span
    (3 shared 5-gram positions each); doc 3 is unique; doc 4 is shorter
    than k. Intra-doc-only repetition must NOT count (the gram needs a
    distinct OTHER document)."""
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        cross_doc_span_profile,
    )

    shared = "the quick brown fox jumps over fences"  # 7 words
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma"),
            (2, "intro words here " + shared),
            (3, "completely unique text with many distinct tokens inside"),
            (4, "too short"),
            # intra-doc repeated 5-gram, but present in no other doc:
            (5, "aa bb cc dd ee aa bb cc dd ee"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["shared_span_ppm"])
        for r in cross_doc_span_profile(docs, k=5).collect()
    }
    # doc1: 10 words -> 6 grams; grams at positions 1..3 are inside the
    # shared span -> 3/6 = 500000 ppm
    assert out[1] == (6, 500_000)
    # doc2: 10 words -> 6 grams; shared-span grams occupy positions 4..6
    assert out[2] == (6, 500_000)
    assert out[3] == (4, 0)
    assert out[4] == (0, 0)
    # intra-doc duplicate grams never count as cross-doc
    assert out[5] == (6, 0)


def test_remove_duplicate_spans_surgical(spark):
    """Span removal cuts exactly the covered tokens and preserves order:
    docs 1/2 share a 7-word span (covers tokens of 3 gram positions =
    span tokens + nothing else); unique docs pass through byte-identical;
    short docs are untouched."""
    from dbt_gdpr_anonymizer_spark.operators.quality import (
        remove_duplicate_spans,
    )

    shared = "the quick brown fox jumps over fences"
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma"),
            (2, "intro words here " + shared),
            (3, "completely unique text with many distinct tokens inside"),
            (4, "too short"),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in remove_duplicate_spans(docs, k=5).collect()
    }
    # doc1: grams 1..3 shared -> tokens 1..7 covered; 8..10 survive
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert (out[1]["n_tokens"], out[1]["n_tokens_removed"]) == (10, 7)
    # doc2: span sits at the tail -> the intro survives
    assert out[2]["clean_text"] == "intro words here"
    assert (out[2]["n_tokens"], out[2]["n_tokens_removed"]) == (10, 7)
    # unique and short docs: untouched (normalized token stream)
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["clean_text"].startswith("completely unique")
    assert (out[4]["n_tokens"], out[4]["n_tokens_removed"]) == (2, 0)
    assert out[4]["clean_text"] == "too short"
    assert (out[5]["n_tokens"], out[5]["n_tokens_removed"]) == (0, 0)
    assert out[5]["clean_text"] == ""


def test_bpe_learn_classic_merges(spark):
    """Hand-checked BPE on a tiny corpus: 'low low low lower lowest' —
    the first merges must follow pair frequency with the (freq desc,
    pair asc) tie rule, and merged symbols must compose in later
    rounds."""
    from dbt_gdpr_anonymizer_spark.operators.vocab import bpe_learn

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest")], ["doc_id", "text"]
    )
    out = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_freq"])
        for r in bpe_learn(docs, n_merges=4).collect()
    ]
    # word freqs: low:3 lower:1 lowest:1  (5 words, all start 'l','o','w')
    # round 1 pairs: (l,o):5 (o,w):5 ... tie -> 'l\x1fo' < 'o\x1fw' asc
    assert out[0] == (1, "l", "o", 5)
    # round 2: (lo,w):5 dominates
    assert out[1] == (2, "lo", "w", 5)
    # round 3: low:3 now single-symbol; (low,e):2 from lower+lowest
    assert out[2] == (3, "low", "e", 2)
    # round 4: (lowe,r):1 vs (lowe,s):1 vs (s,t):1 -> asc tie on pair
    assert out[3][0] == 4 and out[3][3] == 1
    assert (out[3][1], out[3][2]) == ("lowe", "r")


def test_bpe_merge_is_greedy_leftmost(spark):
    """Overlapping occurrences merge leftmost-first (the BPE contract):
    'aaa' under merge (a,a) must become (aa, a), so the next round's
    pair is (aa, a), not a double merge."""
    from dbt_gdpr_anonymizer_spark.operators.vocab import bpe_learn

    docs = spark.createDataFrame([(1, "aaa aaa bb")], ["doc_id", "text"])
    out = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_freq"])
        for r in bpe_learn(docs, n_merges=3).collect()
    ]
    # 'aaa' x2: pairs (a,a) freq 4; (b,b) freq 1
    assert out[0] == (1, "a", "a", 4)
    # after merge: 'aa\x1fa' x2 -> pair (aa,a) freq 2 beats (b,b) 1
    assert out[1] == (2, "aa", "a", 2)
    assert out[2] == (3, "b", "b", 1)


def test_bpe_early_stop_when_no_pairs(spark):
    """Single-char words only: no adjacent pairs, so the learner returns
    an empty merge table instead of looping."""
    from dbt_gdpr_anonymizer_spark.operators.vocab import bpe_learn

    docs = spark.createDataFrame([(1, "a b c a b")], ["doc_id", "text"])
    assert bpe_learn(docs, n_merges=5).count() == 0


def test_bpe_token_counts_apply(spark):
    """Train→apply: after (l,o) and (lo,w) merges, 'low' is one token,
    'lower' is three ('low','e','r'); unseen words still segment by the
    merge chain; docs with no words release 0."""
    from dbt_gdpr_anonymizer_spark.operators.vocab import (
        bpe_learn,
        bpe_token_counts,
    )

    train = spark.createDataFrame(
        [(1, "low low low lower lowest")], ["doc_id", "text"]
    )
    merges = bpe_learn(train, n_merges=2)  # (l,o) then (lo,w)
    apply_docs = spark.createDataFrame(
        [
            (1, "low"),          # 1 token
            (2, "lower"),        # low + e + r = 3
            (3, "slow"),         # s + low = 2 (merge applies mid-word)
            (4, "xyz"),          # untouched: 3 chars
            (5, ""),             # no words -> 0
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(apply_docs, merges).collect()
    }
    assert out == {1: 1, 2: 3, 3: 2, 4: 3, 5: 0}
