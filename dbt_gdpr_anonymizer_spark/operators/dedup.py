"""Corpus deduplication operators — exact and MinHash-LSH near-dup.

No reference equivalent (tabodino/dbt-gdpr-anonymizer has no corpus ops);
this is the LLM-training-data extension surface. Design targets 100 TB:

* ``exact_dedup``: one map-side-partial shuffle on the content fingerprint.
* ``neardup_pairs``: MinHash-LSH — signatures and band hashes are per-row
  expressions (zero shuffle), candidate generation is a self-equi-join on
  (band, bucket) so only docs sharing a band bucket ever meet. The plan
  never contains an all-pairs product; cost scales with bucket occupancy,
  not n². Jaccard verification runs only on candidate pairs.

* ``ngram_jaccard_pairs``, ``edit_distance_pairs``, ``containment_pairs``:
  EXACT similarity joins sharing one AllPairs/SSJoin prefix kernel.
  ``_df_prefix`` keeps each document's first tokens in a global
  document-frequency order (df from a count window over the token hash
  ``_h``), ``_prefix_pairs`` self-joins those prefixes on ``_h`` inside a
  length band, and each operator keeps only its tokenization, its prefix
  length and its exact check. Ordering or threshold changes land in the
  kernel once.

Tuning: with ``num_hashes=16, bands=8`` (r=2 rows/band), a pair with true
Jaccard s becomes a candidate with p = 1-(1-s^2)^8: s=0.9 → 0.9999983,
s=0.5 → 0.90, s=0.2 → 0.28. Raise bands/hashes for lower thresholds.

Everything is native Column expressions (md5-based hashing, identical in
DuckDB) — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.functions import text as tx
from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "bbit_minhash_pairs",
    "containment_pairs",
    "exact_dedup",
    "lsh_candidate_pairs",
    "neardup_pairs",
    "ngram_jaccard_pairs",
    "edit_distance_pairs",
    "dedup_corpus",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "semantic_dedup",
]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact content dedup: keep the lowest-id doc per content fingerprint.

    The fingerprint (md5 of sorted distinct normalized words,
    ``tx.doc_fingerprint``) is whitespace/punctuation/word-order robust.
    Returns (fingerprint, survivor id). One shuffle, partial-aggregated
    map-side, so the reduce side only sees one row per (partition,
    fingerprint) — safe at any scale.
    """
    return (
        df.select(tx.doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )


def dedup_against_index(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: production corpora grow by DELTAS, and
    re-deduplicating the whole corpus per delta is O(corpus) per batch.
    Survivors of a delta are docs whose content fingerprint is (a) absent
    from the accumulated index — a LEFT ANTI equi-join on the fingerprint
    (hash join; broadcast when the delta's fingerprint set is small,
    shuffle otherwise — AQE picks) — and (b) the first occurrence within
    the delta (same min-id reduce as :func:`exact_dedup`).

    Returns (fingerprint, survivor id): append it to the index table and
    the next delta dedups against corpus ∪ delta without ever rescanning
    the corpus. Pairs with :func:`~dbt_gdpr_anonymizer_spark.streaming.
    anonymize.stream_exact_dedup`, which is the same contract under a
    watermark horizon.
    """
    fp = new_docs.select(
        tx.doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col)
    )
    fresh = fp.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )
    return fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """Distinct word-n-gram sets, with the word array pre-projected.

    A lambda-captured EXPRESSION is re-evaluated per array element, so
    shingling directly over ``words(text)`` re-runs the regex/split chain
    per gram — O(words²) per doc (measured 15× slower at 5k docs). Captured
    COLUMN references are cheap, so materialize ``words`` as a projection
    first; semantics identical to ``tx.shingles``.
    """
    pre = df.select(F.col(id_col), tx.words(text_col).alias("_ws"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_ws") - (shingle_n - 1)),
        lambda i: F.array_join(F.slice(F.col("_ws"), i, shingle_n), " "),
    )
    sh = F.when(F.size("_ws") >= shingle_n, grams).otherwise(
        F.array(F.array_join("_ws", " "))
    )
    return pre.select(F.col(id_col), F.array_distinct(sh).alias("sh"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash-LSH banding.

    signature → split into ``bands`` bands of r = num_hashes/bands rows →
    band bucket = md5(band_index ‖ band slice) → explode to (band, bucket,
    id) → self-join on (band, bucket) with id_a < id_b → distinct pairs.

    The join key includes the band index, so buckets from different bands
    never collide; ``distinct`` collapses pairs that co-occur in several
    bands. Identical docs share all buckets — the group contributes
    O(group²) candidate pairs, which is the true candidate set, not skew.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sh = _shingle_sets(df, text_col, id_col, shingle_n)
    return _lsh_candidates_from_sets(
        sh, id_col, num_hashes=num_hashes, bands=bands
    )


def _lsh_candidates_from_sets(
    sh: DataFrame, id_col: str, *, num_hashes: int, bands: int
) -> DataFrame:
    """LSH banding over precomputed (id, sh) shingle sets — split out so
    callers that also need the sets for verification (``neardup_pairs``)
    can persist them once instead of recomputing the shingle chain per
    plan branch."""
    r = num_hashes // bands
    # Signature via explode → per-row hash → groupBy min, NOT the nested
    # higher-order-function expression (tx.minhash_signature): Catalyst
    # re-evaluates a lambda's captured array argument per outer-lambda
    # element, so the expression form recomputes the whole shingle pipeline
    # num_hashes times per row (measured 80s+ at 5k docs). The exploded
    # shape hashes each shingle exactly once per hash index with JVM-native
    # xxhash64, and the min-aggregation is map-side partial — the classic
    # scalable MinHash plan. The signature is engine-internal (the oracle
    # checks the verified-Jaccard OUTPUT), so xxhash64 needs no cross-engine
    # parity.
    exploded = sh.select(F.col(id_col), F.explode_outer("sh").alias("shingle"))
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    bucket_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b), *[F.col(f"h{b * r + j}") for j in range(r)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = mins.select(
        F.col(id_col), F.explode(F.array(*bucket_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        )
        .distinct()
    )


def neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by true shingle
    Jaccard ≥ ``threshold``.

    Output: (id_a, id_b, jaccard_ppm) with jaccard_ppm = floor(J·1e6) as
    BIGINT — floor is an exact IEEE op on the bit-identical quotient both
    engines compute, so the compared value has no decimal-cast tie
    rounding an engine version could diverge on. The Jaccard join touches
    only candidate pairs — at sane thresholds a vanishing fraction of n².

    The shingle sets are persisted; call
    ``operators.caching.release_caches(result)`` after consuming it.
    """
    # One cached copy of the shingle sets feeds LSH banding AND both
    # verification sides — without it the regex/shingle chain re-executes
    # in three plan branches (no cross-branch subplan reuse in Catalyst).
    sets_ = persist(_shingle_sets(df, text_col, id_col, shingle_n))
    cands = _lsh_candidates_from_sets(
        sets_, id_col, num_hashes=num_hashes, bands=bands
    )
    a_sets = sets_.select(
        F.col(id_col).alias(f"{id_col}_a"), F.col("sh").alias("sh_a")
    )
    b_sets = sets_.select(
        F.col(id_col).alias(f"{id_col}_b"), F.col("sh").alias("sh_b")
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return (
        cands.join(a_sets, f"{id_col}_a")
        .join(b_sets, f"{id_col}_b")
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            jac.alias("_jac_raw"),
        )
        .filter(F.col("_jac_raw") >= threshold)
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            F.floor(F.col("_jac_raw") * 1000000).cast("bigint").alias("jaccard_ppm"),
        )
    )


def _df_prefix(
    tokens: DataFrame, id_col: str, prefix_len: Column | int, *tiebreak: str
) -> DataFrame:
    """Each document's first ``prefix_len`` tokens in one global order —
    the prefix step shared by the exact similarity joins
    (``ngram_jaccard_pairs``, ``edit_distance_pairs``,
    ``containment_pairs``; the AllPairs / SSJoin shape).

    ``tokens`` has one row per (document, token): ``id_col``, the token
    hash ``_h`` (xxhash64 of the token), the token's own columns named in
    ``tiebreak`` and whatever the caller carries along; the result adds
    ``_df`` and ``_rk``, so callers project. ``prefix_len`` is a Column
    over those rows (or a constant). The order is document
    frequency ascending (rarest first), then ``_h``, then ``tiebreak``:
    boilerplate tokens shared by thousands of documents sink to the end
    of every list, so they rarely land in a prefix and the join on
    prefix tokens costs Σ prefix_df² instead of Σ df².

    Why the result stays exact:

    * the Chaudhuri et al. prefix lemma holds for ANY total order that
      all documents share — document frequency only makes it cheap;
    * every wide exchange keys on the 8-byte ``_h``, not the token
      string. Equal tokens hash equal, so no pair is lost. A collision
      can only merge two tokens' counts (an order change the lemma
      tolerates) or admit a spurious candidate, which the caller's exact
      check rejects. The ``tiebreak`` columns keep the order total and
      identical across documents even then; comparisons short-circuit on
      (df, ``_h``), so they are almost never read;
    * document frequency is a count window partitioned by ``_h``, not a
      groupBy plus a corpus-sized back-join: the window pays the same
      exchange and sort on ``_h`` as the back-join did, and the
      aggregate, its exchange and the join are gone, with identical
      counts.

    The measurements behind both choices are in OPTIMIZATION_r11.md and
    OPTIMIZATION_r12.md.

    Persisting is left to the callers: a prefix that feeds both sides of
    a self-join (``_prefix_pairs``) should be cached; one with a single
    consumer should not (the cache write is then pure extra work).
    """
    w_df = Window.partitionBy("_h")
    w = Window.partitionBy(id_col).orderBy("_df", "_h", *tiebreak)
    return (
        tokens.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= prefix_len)
    )


def _prefix_pairs(
    prefix: DataFrame, id_col: str, len_col: str, band: Column
) -> DataFrame:
    """Symmetric candidates from a ``_df_prefix`` table: (_ida, _idb)
    with _ida < _idb sharing a prefix ``_h``, kept where ``band`` — a
    Column over the two sizes ``_la`` and ``_lb`` (``len_col`` of each
    side) — holds. Not distinct: a pair sharing several prefix tokens
    repeats."""
    a = prefix.select(
        F.col(id_col).alias("_ida"), F.col(len_col).alias("_la"), "_h"
    )
    b = prefix.select(
        F.col(id_col).alias("_idb"), F.col(len_col).alias("_lb"), "_h"
    )
    return (
        a.join(b, "_h")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(band)
        .select("_ida", "_idb")
    )


def _attach_sides(
    cands: DataFrame, side: DataFrame, id_col: str, *cols: str
) -> DataFrame:
    """Join ``cols`` of ``side`` onto both ends of (_ida, _idb) candidate
    pairs, as ``<col>_a`` and ``<col>_b``, for the exact check."""
    for s in "ab":
        cands = cands.join(
            side.select(
                F.col(id_col).alias(f"_id{s}"),
                *[F.col(c).alias(f"{c}_{s}") for c in cols],
            ),
            f"_id{s}",
        )
    return cands


def _sized_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> tuple[DataFrame, DataFrame]:
    """Persisted (id, sh, _n) shingle sets and their ``_df_prefix`` token
    table (id, _n, shingle, _h).

    The shingle chain (regex split → n-gram transform) is the expensive
    expression and the joins read it in several plan branches (df
    window, rank, both verify sides). Catalyst has no cross-branch
    subplan reuse, so the sets are cached once. MEMORY_AND_DISK spills at corpus scale; for a full 100 TB
    run, materialize the tokenized corpus to storage first. The caller
    releases the cache (``release_caches``)."""
    sized = persist(_shingle_sets(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.col("sh"), F.size("sh").alias("_n")
    ))
    tokens = sized.select(
        F.col(id_col), F.col("_n"), F.explode("sh").alias("shingle")
    ).withColumn("_h", F.xxhash64("shingle"))
    return sized, tokens


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs: prefix-filtered inverted-index
    candidates + full-set verification (the AllPairs/PPJoin shape).

    Complements MinHash-LSH (``neardup_pairs``): same output contract
    (id_a, id_b, jaccard_ppm), but exact — full recall at the threshold,
    no probabilistic banding. A naive inverted-index join costs Σ df(g)² over
    grams g, dominated by boilerplate grams shared by thousands of docs.
    Prefix filtering removes that hot spot WITHOUT losing exactness:

    * order every doc's gram set by global document frequency ascending
      (``_df_prefix``),
    * index only the first ``n - ⌈t·n⌉ + 1`` grams of each doc. Lemma
      (Chaudhuri et al., SSJoin): if ``|A∩B| ≥ α`` then the first
      ``|A|-α+1`` of A and ``|B|-α+1`` of B intersect under any shared
      total order; Jaccard ≥ t gives ``|A∩B| ≥ ⌈t·max(|A|,|B|)⌉``, so
      every qualifying pair shares a PREFIX gram,
    * candidates = prefix-postings self-equi-join (+ the free length
      filter ``t·max(n_a,n_b) ≤ min(n_a,n_b)``), verified with exact
      Jaccard over the full sets — only candidate pairs pay.

    ``threshold`` is quantized to 6 decimals (decimal arithmetic) so
    ⌈t·n⌉ has no float-rounding holes.
    """
    sized, tokens = _sized_shingles(df, text_col, id_col, shingle_n)
    # α = ⌈t·n⌉ in exact decimal: 0.56×25 is 14.000000, where floats give
    # 14.000000000000002 and a prefix one gram short
    tq = F.lit(threshold).cast("decimal(10,6)")
    alpha = F.ceil(tq * F.col("_n")).cast("int")
    # persisted: the prefix feeds both sides of the candidate self-join
    prefix = persist(
        _df_prefix(tokens, id_col, F.col("_n") - alpha + 1, "shingle")
        .select(id_col, "_n", "_h")
    )
    band = F.least("_la", "_lb") >= tq * F.greatest("_la", "_lb")
    cands = _prefix_pairs(prefix, id_col, "_n", band).distinct()
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return (
        _attach_sides(cands, sized, id_col, "sh")
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            jac.alias("_j"),
        )
        .filter(F.col("_j") >= threshold)
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            F.floor(F.col("_j") * 1000000).cast("bigint").alias("jaccard_ppm"),
        )
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Full dedup: drop exact duplicates, then drop the higher-id member of
    every verified near-dup pair. Returns the surviving rows of ``df``.

    Near-dup survivors use pair-wise elimination (keep the lowest id of each
    pair's connected component by iterated min — one pass approximation:
    a doc survives iff it is not the ``_b`` side of any pair, after exact
    dedup). For true transitive-closure clustering plug in graph
    connected-components; at dedup thresholds ≥0.7 chains are short and the
    one-pass rule matches common practice.
    """
    exact = exact_dedup(df, text_col, id_col).select(id_col)
    kept = df.join(exact, id_col, "left_semi")
    pairs = neardup_pairs(
        kept,
        text_col,
        id_col,
        threshold=threshold,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
    )
    losers = pairs.select(F.col(f"{id_col}_b").alias(id_col)).distinct()
    return kept.join(losers, id_col, "left_anti")


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 16,
    max_hamming: int = 2,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Scale path: the ``bits``-wide fingerprint is split into ``chunks``
    equal bit-chunks; by pigeonhole, any pair within Hamming distance
    ``chunks - 1`` shares at least one exact chunk, so candidates come from
    an equi-join on (chunk_index, chunk_value) — never all-pairs. Verify =
    ``bit_count(a XOR b) <= max_hamming`` on candidates.

    ``bits=16`` keeps the demo oracle cheap; production corpora want
    bits=64, chunks=8 (same code — chunk width is bits/chunks).
    """
    if bits % chunks:
        raise ValueError("bits must be divisible by chunks")
    if max_hamming > chunks - 1:
        raise ValueError(
            "pigeonhole banding only covers max_hamming <= chunks - 1"
        )
    width = bits // chunks
    # one bigint row per doc; persisted because the self-join otherwise
    # re-runs the whole explode/md5/vote pipeline for each side
    sh = persist(simhash_table(df, text_col, id_col, bits=bits))
    mask = (1 << width) - 1
    chunked = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("cv"),
    ).select(id_col, "simhash", "cv.chunk", "cv.val")
    a, b = chunked.alias("a"), chunked.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ ``threshold``.

    Scale path: sign-LSH bucket equi-join (high-cosine pairs land in the
    same hyperplane bucket with high probability), exact cosine verify on
    candidates. Approximate: a pair split by a hyperplane is missed —
    acceptable at dedup thresholds (≥0.9 ⇒ angle ≤ 26°, missed by an
    8-bit bucket with p ≈ 1-(1-θ/π)^8 per bit... in practice raise
    ``bits`` or add multi-probe for recall; exactness is the oracle's job).
    """
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        cosine_sim,
        hyperplane_bucket,
    )

    v = vectors.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        hyperplane_bucket(F.col(vec_col), dim, bits).alias("_bucket"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = cosine_sim(F.col("a._v"), F.col("b._v"))
    return (
        a.join(b, "_bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
            cos.alias("_c"),
        )
        .filter(F.col("_c") >= threshold)
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            # floor-only ppm: exact IEEE step, no decimal-cast tie rounding
            F.floor(F.col("_c") * 1000000).cast("bigint").alias("cos_sim_ppm"),
        )
        .distinct()
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 16,
) -> DataFrame:
    """SimHash per document via explode → one md5 per token → vote-sum agg.

    Semantically identical to the per-row expression ``tx.simhash`` (same
    md5-bit votes), but linear: the expression form re-evaluates the word
    array per bit and re-hashes each token per bit (O(bits × tokens) md5
    calls — measured 4s at 5k docs); here each token is hashed ONCE and all
    ``bits`` votes are extracted arithmetically from the digest, with a
    map-side-partial vote aggregation. Empty docs hash to 0, as in the
    expression form.
    """
    pre = df.select(
        F.col(id_col), F.explode_outer(tx.words(text_col)).alias("_w")
    )
    tok = pre.select(
        id_col,
        *[
            (
                F.lit(2)
                * F.shiftright(
                    F.call_function(
                        "instr",
                        F.lit("0123456789abcdef"),
                        F.substring(F.md5("_w"), j // 4 + 1, 1),
                    )
                    - 1,
                    3 - j % 4,
                ).bitwiseAND(F.lit(1))
                - 1
            ).alias(f"_v{j}")
            for j in range(bits)
        ],
    )
    votes = tok.groupBy(id_col).agg(
        *[F.sum(f"_v{j}").alias(f"_v{j}") for j in range(bits)]
    )
    fingerprint = None
    for j in range(bits):
        contrib = F.when(F.col(f"_v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fingerprint = contrib if fingerprint is None else fingerprint + contrib
    return votes.select(
        F.col(id_col), fingerprint.cast("bigint").alias("simhash")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    window: int = 4,
    mod: int = 2147483647,
) -> DataFrame:
    """Winnowing chunk fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).

    The local document fingerprinting scheme behind MOSS: hash every
    POSITIONAL word ``k``-gram (order matters, duplicates kept — unlike the
    distinct shingle sets used for Jaccard), slide a window of ``window``
    consecutive gram hashes, and select each window's minimum. Guarantee:
    any shared run of ``window + k - 1`` words between two documents yields
    at least one shared selected fingerprint, while only ~``2/(window+1)``
    of gram hashes are kept — a sparse, overlap-preserving sketch.

    Output: (id_col, fingerprint) — the DISTINCT selected hashes per doc
    (position-free, which is what overlap detection joins on). Docs shorter
    than ``k`` words hash their whole token sequence as one gram; windows
    shorter than ``window`` (short docs) take the min of what exists.

    Everything is per-row expression work (zero shuffle before the final
    distinct): grams, md5 hashes, and window minima are array transforms
    over pre-projected columns — each stage materialized as a projection so
    no lambda captures an expression (see ``_shingle_sets``). Hashes are
    md5-derived 32-bit values mod ``mod``, bit-identical in DuckDB.
    """
    pre = df.select(F.col(id_col), tx.words(text_col).alias("_ws"))
    # r11 (guide §4.1): gram text -> md5 -> hex32 -> mod fused into ONE
    # lambda pass. The previous three chained transforms (grams, md5 map,
    # hex32 map) each ran interpreted per element AND materialized two
    # transient per-row string arrays (the gram strings and the hex
    # digests). One pass does a third of the lambda dispatches and
    # allocates only the final bigint array; `slice` past the end of a
    # short array returns the whole array, so the < k-words doc hashes
    # its whole token sequence as one gram exactly as before (edge
    # pinned by the A/B identity check and the winnow units). Measured
    # sf0.1: warm medians 1.43 -> 1.26 s, cold first exec 2.88 -> 1.53 s,
    # fingerprint relation bit-identical (100 958 rows, symdiff 0).
    h = pre.select(
        F.col(id_col),
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("_ws") - (k - 1), F.lit(1))
            ),
            lambda i: (
                tx.md5_hex32(
                    F.md5(F.array_join(F.slice(F.col("_ws"), i, k), " "))
                )
                % F.lit(mod)
            ).cast("bigint"),
        ).alias("_hs"),
    )
    wins = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size("_hs") - (window - 1), F.lit(1))
        ),
        lambda i: F.array_min(F.slice(F.col("_hs"), i, window)),
    )
    return h.select(
        F.col(id_col), F.explode(F.array_distinct(wins)).alias("fingerprint")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Document-overlap pairs by shared winnowing fingerprints.

    Inverted-index self-equi-join on the selected fingerprints — the same
    no-all-pairs shape as ``ngram_jaccard_pairs``: only docs sharing a
    fingerprint ever meet, and the pair aggregation is map-side partial.
    Because winnowing keeps ~2/(window+1) of grams, the postings list (and
    the join) is ~4× smaller than the full inverted index at window=7 —
    this is the scale path for contiguous-overlap (plagiarism/quote)
    detection, where Jaccard over whole-doc shingle sets is the wrong
    measure for a short shared passage inside two long documents.

    ``min_shared``: require at least that many shared fingerprints (one
    shared window-min can be a coincidence at 32-bit hash width).
    ``max_doc_freq`` drops fingerprints present in more than that many docs
    (boilerplate) from the index — the standard df-cut scale valve; shared
    counts for surviving pairs are computed over the kept fingerprints.
    """
    fps = winnow_fingerprints(
        df, text_col, id_col, k=k, window=window
    )
    if max_doc_freq is not None:
        keep = (
            fps.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("fingerprint")
        )
        fps = fps.join(keep, "fingerprint")
    a = fps.select(F.col(id_col).alias(f"{id_col}_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias(f"{id_col}_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .groupBy(f"{id_col}_a", f"{id_col}_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_distance: int = 8,
    q: int = 3,
) -> DataFrame:
    """EXACT edit-distance near-dup pairs: q-gram prefix-filtered candidates
    + Levenshtein verification (the Ed-Join / Pass-Join family, built on
    the df-ordered prefix kernel ``_df_prefix``).

    Guarantee chain (full recall at the threshold, no probabilistic step):

    * each edit destroys at most ``q`` positional q-grams, so
      ed(s,t) ≤ d ⇒ multiset q-gram overlap ≥ max(L_s, L_t) − q·d
      (Gravano et al., VLDB 2001 count filter), with L = #grams;
    * multisets become sets by numbering repeats — token (gram, occ) —
      so set intersection equals multiset overlap exactly;
    * the Chaudhuri prefix lemma then says qualifying pairs must share a
      token among each doc's first ``q·d + 1`` tokens under any global
      total order. Ordering by document frequency ascending (rarest
      first) makes those prefixes the LEAST-joinable tokens — the
      inverted-index self-join stays sparse while the prefix length is a
      CONSTANT (25 at q=3, d=8), independent of document length;
    * strings with ≤ q·d grams can sit within distance d sharing no gram
      (the bound is vacuous), so short docs also meet ALL docs within the
      ±d length band via a bucketized equi-join on ⌊len/(d+1)⌋ (one side
      explodes its bucket ±1 — a hash join, never a nested loop);
    * the free |Δlen| ≤ d filter applies to every candidate, and
      verification is ``levenshtein(a, b, threshold=d)`` — Spark's
      banded O(d·L) early-exit form — on candidates only.

    Returns (id_a, id_b, edit_distance) with id_a < id_b, distance ≤ d.
    """
    t = F.col(text_col)
    docs = persist(df.select(
        F.col(id_col), t.alias("_t"), F.length(t).alias("_len")
    ))
    # positional grams: explode the INDEX sequence and take
    # substring(_t, _i, q) as a plain row expression — a transform(sequence,
    # i -> substring) lambda is interpreted per element, this stays inside
    # WholeStageCodegen (OPTIMIZATION_r11.md)
    g = docs.select(
        F.col(id_col),
        "_len",
        "_t",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.col("_len") - (q - 1), F.lit(0))
            )
        ).alias("_i"),
    ).select(
        F.col(id_col),
        "_len",
        F.expr(f"substring(_t, _i, {q})").alias("_gram"),
    )
    # (gram, occ) multiset→set tokens: any CONSISTENT numbering of repeats
    # works for the count filter, so regenerate occ = 1..count via a
    # hash groupBy + sequence explode instead of a row_number window —
    # same shuffle width, but hash aggregation replaces the window's
    # full sort of the exploded gram table (O(n) vs O(n log n) at the
    # widest stage; wall-clock parity at sf0.1 where the stage is small)
    tokens = (
        g.groupBy(id_col, "_len", "_gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            F.col(id_col),
            "_len",
            "_gram",
            F.explode(F.sequence(F.lit(1), F.col("_c"))).alias("_occ"),
        )
        .withColumn("_h", F.xxhash64("_gram", "_occ"))
    )
    # persisted: the prefix (q·d+1 narrow rows per doc) feeds both sides
    # of the candidate self-join; caching it rather than the ~10× larger
    # token table computes the widest stage once
    prefix = persist(
        _df_prefix(tokens, id_col, q * max_distance + 1, "_gram", "_occ")
        .select(id_col, "_len", "_h")
    )
    band = F.abs(F.col("_la") - F.col("_lb")) <= max_distance
    cands = _prefix_pairs(prefix, id_col, "_len", band)
    # short-doc completeness branch: grams ≤ q·d ⇔ len ≤ q·d + q − 1; any
    # in-threshold partner is within d of that, so both sides of a missed
    # pair live under this cap — meet them on adjacent length buckets
    short_cap = q * max_distance + q - 1 + max_distance
    bucket = (F.col("_len") / (max_distance + 1)).cast("int")
    sx = docs.filter(F.col("_len") <= short_cap).select(
        F.col(id_col).alias("_ida"),
        F.col("_len").alias("_la"),
        bucket.alias("_bk"),
    )
    sy = docs.filter(F.col("_len") <= short_cap).select(
        F.col(id_col).alias("_idb"),
        F.col("_len").alias("_lb"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("_bk"),
    )
    short_cands = (
        sx.join(sy, "_bk")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(band)
        .select("_ida", "_idb")
    )
    ed = F.levenshtein(F.col("_t_a"), F.col("_t_b"), max_distance)
    return (
        _attach_sides(
            cands.unionByName(short_cands).distinct(), docs, id_col, "_t"
        )
        .withColumn("_ed", ed)
        .filter(F.col("_ed") >= 0)
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            F.col("_ed").cast("bigint").alias("edit_distance"),
        )
    )


def benchmark_contamination(
    docs: DataFrame,
    benchmark_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing any word
    ``n``-gram with a held-out benchmark set (the GPT-3 / PaLM
    contamination check — training corpora must not contain eval data).

    ``benchmark_ids`` is a (small) DataFrame with one ``id_col`` column.
    Returns ``(id_col, n_shared_grams)`` for every NON-benchmark document
    that shares at least one distinct n-gram with any benchmark document.

    Scale design: the benchmark gram set is tiny (|eval suites| ≪ corpus),
    so the contamination check is a BROADCAST semi-style equi-join on the
    gram — the corpus side streams through map-side, no shuffle of corpus
    grams, no all-pairs doc comparison. Grams are distinct per doc before
    the join, so ``count(*)`` per doc is exactly the number of distinct
    shared grams. Benchmark membership is removed with a broadcast
    left-anti join for the same reason.
    """
    # materialize the words array before the per-position slice lambda:
    # tx.shingles over the raw text column re-evaluates normalize+split
    # per gram position in the interpreted HOF path (the char_entropy
    # lesson) — 8.2 s → 1.5 s at sf0.1, identical output
    ws = tx.words(text_col)
    toks = docs.select(F.col(id_col), ws.alias("_ws"))
    nw = F.size("_ws")
    grams = F.array_distinct(
        F.when(
            nw >= n,
            F.transform(
                F.sequence(F.lit(1), nw - (n - 1)),
                lambda i: F.array_join(F.slice("_ws", i, n), " "),
            ),
        ).otherwise(F.array(F.array_join("_ws", " ")))
    )
    bench = benchmark_ids.select(F.col(id_col))
    bench_grams = (
        toks.join(F.broadcast(bench), id_col)
        .select(F.explode(grams).alias("_gram"))
        .distinct()
    )
    corpus = toks.join(F.broadcast(bench), id_col, "left_anti")
    return (
        corpus.select(id_col, F.explode(grams).alias("_gram"))
        .join(F.broadcast(bench_grams), "_gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def semantic_dedup(
    vectors: DataFrame,
    *,
    eps: float = 0.8,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_n: int | None = 100_000,
) -> DataFrame:
    """X122 SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication in embedding space — cluster the corpus with spherical
    k-means, then within each cluster drop every item whose cosine to a
    LOWER-id cluster member reaches ``eps``. Catches paraphrases and
    re-encodings that no lexical tier (MinHash/SimHash/n-gram) can see.

    Scale shape (the paper's own production shape): pairwise work is
    O(Σ|cell|²), bounded by cluster granularity — grow ``k`` with the
    corpus (SemDeDup fits 50k clusters for LAION) so cells stay
    task-sized; never corpus-wide all-pairs. Assignment is one
    Arrow-batched ``mapInPandas`` pass against the broadcast k×dim
    centroid model (no join, no shuffle), and the dominance rule runs as
    ONE ``applyInPandas`` kernel per cell after the single cell shuffle:
    a blockwise vectorized pairwise-cosine (block×|cell| working set, so
    memory is bounded regardless of cell size) that emits each cell's
    survivors directly — replacing a self-equi-join + distinct + anti-join
    (three shuffles and an interpreted per-pair lambda fold) with one
    shuffle and a numpy kernel, measured 2.4× faster end-to-end at bench
    scale with identical results.

    Bit-exactness contract (the DuckDB oracle replays every compare): all
    dots/norms are accumulated DIMENSION-BY-DIMENSION in float64 — each
    matrix entry sees the exact IEEE addition sequence of the left-fold
    ``cosine_sim`` / DuckDB ``list_dot_product``, never BLAS pairwise
    summation — and cosine is ``dot/(nrm_a·nrm_b)`` with the same
    operation order, so the eps threshold and the argmax tie rule (first
    maximal index) resolve identically cross-engine. NaN cosines
    (zero-norm vectors) count as dominating, matching both engines'
    NaN-is-greatest comparison semantics.

    Returns the SURVIVORS: ``(id_col, cell)``.
    """
    import numpy as np
    import pandas as pd

    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        kmeans_fit_model,
    )

    # kmeans_fit_model returns the driver-local k×dim model directly —
    # the assignment kernel below broadcasts it via closure, so wrapping
    # it in a centroid DataFrame only to collect it back (the pre-r9
    # shape) paid a whole round-trip job inside the timed window.
    model = kmeans_fit_model(
        vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        fit_sample_n=fit_sample_n,
    )
    model_np = np.asarray(model, dtype=np.float64)
    dim = model_np.shape[1]
    cnrm = np.empty(len(model_np), dtype=np.float64)
    for ci in range(len(model_np)):
        acc = 0.0
        for d in range(dim):
            acc += float(model_np[ci, d]) * float(model_np[ci, d])
        cnrm[ci] = np.sqrt(acc)
    id_t = vectors.schema[id_col].dataType.simpleString()

    def _ltr_sq_norm(mat: np.ndarray) -> np.ndarray:
        # per-row sqrt(Σ x²) with strictly index-ordered accumulation
        acc = np.zeros(len(mat), dtype=np.float64)
        for d in range(mat.shape[1]):
            acc += mat[:, d] * mat[:, d]
        return np.sqrt(acc)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dots = np.zeros((len(mat), len(model_np)), dtype=np.float64)
            for d in range(dim):
                dots += np.multiply.outer(mat[:, d], model_np[:, d])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / np.multiply.outer(_ltr_sq_norm(mat), cnrm)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": np.argmax(cos, axis=1).astype(np.int32),
                    "_v": list(mat),
                }
            )

    assigned = vectors.select(id_col, vec_col).mapInPandas(
        _assign, f"{id_col} {id_t}, cell int, _v array<double>"
    )

    def _survivors(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.stack(pdf["_v"].to_numpy())
        n = len(mat)
        nrm = _ltr_sq_norm(mat)
        keep = np.ones(n, dtype=bool)
        cols = np.arange(n)
        block = 4096
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            dots = np.zeros((i1 - i0, n), dtype=np.float64)
            for d in range(mat.shape[1]):
                dots += np.multiply.outer(mat[i0:i1, d], mat[:, d])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / np.multiply.outer(nrm[i0:i1], nrm)
            hit = (cos >= eps) | np.isnan(cos)
            lower = cols[None, :] < np.arange(i0, i1)[:, None]
            keep[i0:i1] = ~(hit & lower).any(axis=1)
        return pdf.loc[keep, [id_col, "cell"]]

    return assigned.groupBy("cell").applyInPandas(
        _survivors, f"{id_col} {id_t}, cell int"
    )


def source_dup_report(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X147 per-source duplication report — the AUDIT twin of
    :func:`exact_dedup`/:func:`dedup_corpus`: instead of dropping
    duplicates, quantify WHERE they come from, per source. A source whose
    duplicates are mostly INTRA-source is re-crawling itself (fix the
    crawler); one whose duplicates are CROSS-source is a mirror of
    content already held elsewhere (drop the source, not the docs) — the
    distinction drives opposite curation actions, which is why real
    pipelines report both.

    Per source: ``n_docs``, ``dup_docs`` (fingerprint occurs >1× in the
    corpus), ``intra_dup_docs`` (>1× within the SAME source),
    ``cross_dup_docs`` (also occurs in ANOTHER source; a doc can be
    both), and ``dup_ppm`` (= dup_docs·1e6 div n_docs, exact integer).

    Plan: one scan → map-side-combined ``(fingerprint, source)`` counts;
    corpus-level fingerprint totals are a second aggregate over that
    ALREADY-COLLAPSED frame (bounded by distinct fingerprints, not docs);
    one fingerprint-keyed equi-join between the two, then a source-keyed
    rollup weighted by the per-cell doc counts. The corpus is never
    shuffled twice and no row-level join touches it. Output: one row per
    source. Fingerprint identity is ``tx.doc_fingerprint`` (md5 — the
    exact_dedup stance, engine-portable for the oracle).
    """
    cell = persist(
        docs.select(
            tx.doc_fingerprint(text_col).alias("_fp"), F.col(group_col)
        )
        .groupBy("_fp", group_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        # persisted: the collapsed cell frame feeds BOTH the corpus
        # totals and the rollup join — without it each plan branch
        # re-scans the corpus and re-fingerprints (plan-audited, r7)
    )
    tot = cell.groupBy("_fp").agg(
        F.sum("_c").alias("_tot"),
        F.count(F.lit(1)).alias("_nsrc"),
    )
    return (
        cell.join(tot, "_fp")
        .groupBy(group_col)
        .agg(
            F.sum("_c").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_tot") > 1, F.col("_c")).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
            F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0))
            .cast("bigint")
            .alias("intra_dup_docs"),
            F.sum(
                F.when(F.col("_nsrc") > 1, F.col("_c")).otherwise(0)
            )
            .cast("bigint")
            .alias("cross_dup_docs"),
        )
        .select(
            group_col,
            "n_docs",
            "dup_docs",
            "intra_dup_docs",
            "cross_dup_docs",
            F.expr("(dup_docs * 1000000) div n_docs")
            .cast("bigint")
            .alias("dup_ppm"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    eps_ppm: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """X149 SEMANTIC test-set decontamination — the embedding-space twin
    of :func:`benchmark_contamination` (which is lexical): flag corpus
    items whose embedding is eps-close in cosine to ANY held-out
    benchmark item. Catches paraphrased/translated/reformatted eval leaks
    that share no word n-gram with the benchmark (the reason modern
    decontamination runs both tiers — e.g. Llama/GPT-4 report n-gram AND
    embedding checks).

    Contract: returns ``(id_col, bench_id_col, cos_sim_ppm)`` — one row
    per CONTAMINATED corpus item, carrying the best-matching benchmark
    id (ties: lowest id) and the floored-ppm cosine (integral, so the
    threshold and the argmax are engine-exact).

    Scale: benchmarks are small by construction (eval suites, ≪ corpus),
    so the plan is EXACT broadcast scoring — corpus streams map-side
    against the broadcast benchmark, zero recall loss (an LSH/IVF
    candidate tier would trade recall exactly where misses are the
    failure mode). Per-item argmax is a struct-max aggregate (no window,
    one map-side-combined shuffle keyed on the corpus id). Cost is
    linear in corpus × |benchmark|.
    """
    from dbt_gdpr_anonymizer_spark.operators.similarity import cosine_sim

    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    b = benchmark.select(
        F.col(bench_id_col),
        F.col(vec_col).cast("array<double>").alias("_b"),
    )
    scored = c.join(F.broadcast(b)).select(
        id_col,
        bench_id_col,
        F.floor(cosine_sim(F.col("_v"), F.col("_b")) * 1_000_000)
        .cast("bigint")
        .alias("_ppm"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("_ppm"), (-F.col(bench_id_col)).alias("_nb")
            )
        ).alias("_m")
    )
    return best.select(
        F.col(id_col),
        (-F.col("_m._nb")).cast("bigint").alias(bench_id_col),
        F.col("_m._ppm").alias("cos_sim_ppm"),
    ).filter(F.col("cos_sim_ppm") >= eps_ppm)


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """X151a engine-portable MinHash band buckets: ``(id, band, bucket)``
    rows where bucket = md5 of the band's concatenated min-hashes and
    each min-hash is the lexicographic MIN of ``md5(i‖':'‖shingle)`` —
    every step is md5/string arithmetic both engines share, so unlike
    the xxhash64 banding inside :func:`lsh_candidate_pairs` (internal,
    output-verified only) the bucket VALUES themselves are
    oracle-replayable. That is what an incremental index needs: the
    persisted index must mean the same thing to every engine and every
    future run.

    Same explode shape as ``_lsh_candidates_from_sets`` (one md5 per
    (hash-index, shingle), map-side-combined min aggregate) — never the
    interpreted nested-HOF form of ``tx.minhash_signature``.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sh = _shingle_sets(df, text_col, id_col, shingle_n)
    exploded = sh.select(
        F.col(id_col), F.explode_outer("sh").alias("_s")
    )
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("_s")))
            ).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )
    bucket_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"_h{b * r + j}") for j in range(r)]
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return mins.select(
        F.col(id_col), F.explode(F.array(*bucket_structs)).alias("_bb")
    ).select(id_col, F.col("_bb.band").alias("band"),
             F.col("_bb.bucket").alias("bucket"))


def neardup_against_index(
    new_docs: DataFrame,
    seen_buckets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """X151 incremental NEAR-dup dedup — the delta-ingest twin of
    :func:`dedup_against_index` (which is exact-only): production corpora
    grow by deltas, and re-running pairwise near-dup over corpus ∪ delta
    per batch is O(corpus) per batch. Here the accumulated state is the
    ``(band, bucket)`` table from :func:`minhash_band_table`; a delta doc
    is DROPPED if any of its band buckets (a) already exists in the
    index — near-dup of ingested content — or (b) is also emitted by a
    LOWER-id delta doc (greedy first-wins within the batch; the
    transitive-closure variant is :func:`dedup_corpus` + X28 components,
    this tier trades that for index-join cost O(delta)).

    Banding semantics (not verified Jaccard): a bucket hit means the
    band's min-hash rows all agree — the standard LSH candidate
    criterion; tune bands/hashes for the precision/recall point, and run
    the pairwise verified tier on the survivors when precision matters.

    Returns survivors ``(id_col, n_buckets BIGINT)``. Append the
    survivors' buckets to the index and the next delta dedups against
    corpus ∪ delta without rescanning either.
    """
    bt = persist(minhash_band_table(
        new_docs, text_col, id_col,
        shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
    ))
    vs_index = bt.join(
        seen_buckets.select("band", "bucket"), ["band", "bucket"],
        "left_semi",
    ).select(id_col).distinct()
    owner = bt.groupBy("band", "bucket").agg(F.min(id_col).alias("_own"))
    vs_delta = (
        bt.join(owner, ["band", "bucket"])
        .filter(F.col(id_col) > F.col("_own"))
        .select(id_col)
        .distinct()
    )
    dropped = vs_index.unionByName(vs_delta).distinct()
    return (
        bt.join(dropped, id_col, "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """X172 EXACT directed n-gram CONTAINMENT near-dup pairs:
    ``containment(A→B) = |sh_A ∩ sh_B| / |sh_A| ≥ t`` with ``A ≠ B`` —
    the ASYMMETRIC signal Jaccard structurally misses: a short document
    quoted wholesale inside a much longer one has tiny Jaccard (the
    union is dominated by B) but containment ≈ 1. Exactly the
    quote/snippet/subset-duplication case a pretraining dedup pass
    wants flagged separately from symmetric near-dups.

    Same AllPairs/SSJoin prefix kernel (``_df_prefix``) as
    :func:`ngram_jaccard_pairs`, adapted to the asymmetric overlap
    bound: ``|A∩B| ≥ α = ⌈t·|A|⌉`` depends on A alone, so only the
    CONTAINED side is prefix-indexed (first ``|A| − α + 1`` grams in
    the shared df-ascending order) while the container side posts its
    FULL gram set — the Chaudhuri et al. prefix lemma then guarantees
    every qualifying directed pair shares a (prefix_A, full_B) gram.
    No length filter applies (B may be arbitrarily larger — that is
    the point).

    Verification is integer-exact: ``containment_ppm =
    (1e6 · |A∩B|) div |A|``, compared against ``t`` quantized to ppm —
    no float anywhere. Returns ``(id_a, id_b, containment_ppm)``,
    directed (both directions of a mutual pair release).
    """
    sized, tokens = _sized_shingles(df, text_col, id_col, shingle_n)
    t_ppm = int(round(threshold * 1_000_000))
    # α = ⌈t·n⌉ in pure integers: (t_ppm·n + 1e6 − 1) div 1e6
    alpha = F.expr(f"cast(({t_ppm} * _n + 999999) div 1000000 as int)")
    # not persisted: the prefix has a single consumer, the probe below
    prefix = _df_prefix(tokens, id_col, F.col("_n") - alpha + 1, "shingle")
    cands = (
        prefix.select(F.col(id_col).alias("_ida"), "_h")
        .join(tokens.select(F.col(id_col).alias("_idb"), "_h"), "_h")
        .filter(F.col("_ida") != F.col("_idb"))
        .select("_ida", "_idb")
        .distinct()
    )
    return (
        _attach_sides(cands, sized, id_col, "sh", "_n")
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.expr(
                "cast(1000000 * cast(size(array_intersect(sh_a, sh_b))"
                " as bigint) div _n_a as bigint)"
            ).alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= t_ppm)
    )


def bbit_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    b_bits: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """X180 b-bit minwise hashing (Li & König, CACM 2011): store only
    the lowest ``b`` bits of each min-hash and estimate Jaccard from
    the b-bit collision rate. At 100 TB this is the signature the
    index actually PERSISTS: 16 hashes × 4 bits = 8 bytes per doc vs
    the 256-byte full-width signature — a 32× state shrink for the
    near-dup index, at a quantifiable variance cost the released
    estimate-vs-exact columns make visible per pair.

    Estimator: a non-matching pair's b-bit values still collide with
    probability C = 2^-b, so E[matches/n] = J + (1-J)·C and the
    unbiased inverse is Ĵ = (2^b·matches - n) / (n·(2^b - 1)) — an
    INTEGER rational here (released as ``(1e6·max(2^b·m - n, 0)) div
    (n·(2^b-1))``, clamped at zero before the division so truncation
    is floor in both engines). No float anywhere in the estimate.

    Everything is the engine-portable md5 idiom (the
    ``minhash_band_table`` stance): min-hash = lexicographic min of
    ``md5(i‖':'‖shingle)``, the b-bit digest = the LAST ``b/4`` hex
    nibbles of each (the low bits of the 128-bit value), candidate
    generation = md5 band buckets over the full-width hashes. ONE
    explode pass builds the signature table (map-side-combined mins);
    it is persisted and feeds banding plus both pair sides; exact
    Jaccard verifies only candidate pairs.

    Returns ``(id_a, id_b, bbit_matches, bbit_est_ppm, jaccard_ppm)``
    for verified pairs with exact Jaccard ≥ ``threshold``.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if b_bits % 4 or not 4 <= b_bits <= 32:
        raise ValueError("b_bits must be a multiple of 4 in [4, 32]")
    r = num_hashes // bands
    nib = b_bits // 4
    sets_ = persist(_shingle_sets(df, text_col, id_col, shingle_n))
    exploded = sets_.select(
        F.col(id_col), F.explode_outer("sh").alias("_s")
    )
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("_s")))).alias(
                f"_h{i}"
            )
            for i in range(num_hashes)
        ]
    )
    # One persisted per-doc frame carries the compressed signature (the
    # low b bits of each hash, concatenated — literally the
    # num_hashes·b-bit state a scaled index stores), the full-width
    # hashes (banding only), and the shingle set (verification only):
    # banding plus BOTH pair sides read this single frame, so the pair
    # assembly is two joins, not four.
    sig = persist(
        mins.join(sets_, id_col)
        .select(
            F.col(id_col),
            F.concat(
                *[
                    F.substring(f"_h{i}", 33 - nib, nib)
                    for i in range(num_hashes)
                ]
            ).alias("_bb"),
            "sh",
            *[F.col(f"_h{i}") for i in range(num_hashes)],
        )
    )
    bucket_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"_h{b * r + j}") for j in range(r)]
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*bucket_structs)).alias("_s")
    ).select(id_col, "_s.band", "_s.bucket")
    cands = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        )
        .distinct()
    )
    sa = sig.select(
        F.col(id_col).alias(f"{id_col}_a"),
        F.col("_bb").alias("_bba"),
        F.col("sh").alias("_sha"),
    )
    sb = sig.select(
        F.col(id_col).alias(f"{id_col}_b"),
        F.col("_bb").alias("_bbb"),
        F.col("sh").alias("_shb"),
    )
    matches = sum(
        F.when(
            F.substring("_bba", i * nib + 1, nib)
            == F.substring("_bbb", i * nib + 1, nib),
            1,
        ).otherwise(0)
        for i in range(num_hashes)
    ).cast("long")
    jac = F.size(F.array_intersect("_sha", "_shb")).cast(
        "double"
    ) / F.size(F.array_union("_sha", "_shb")).cast("double")
    two_b = 1 << b_bits
    return (
        cands.join(sa, f"{id_col}_a")
        .join(sb, f"{id_col}_b")
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            matches.alias("bbit_matches"),
            jac.alias("_j"),
        )
        .filter(F.col("_j") >= threshold)
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            "bbit_matches",
            F.expr(
                f"(1000000 * greatest({two_b} * bbit_matches"
                f" - {num_hashes}, 0))"
                f" div ({num_hashes} * {two_b - 1})"
            )
            .cast("long")
            .alias("bbit_est_ppm"),
            F.floor(F.col("_j") * 1000000)
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )
