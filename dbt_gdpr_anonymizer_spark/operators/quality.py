"""Corpus quality / repetition filters (Gopher-style, Rae et al. 2021).

LLM training pipelines drop documents dominated by repetition (boilerplate,
scraped navigation, generation loops). Two classic signals, computed here
as exact integer ratios so any engine reproduces them bit-for-bit:

* duplicate-word fraction — ``1 - distinct_words / total_words``
* top-bigram fraction — occurrences of the most frequent word bigram over
  the total bigram count

Scale design: the bigram frequency table is built by EXPLODING bigrams and
aggregating ``(doc_id, bigram)`` — linear in corpus size, map-side partial
aggregation, two hash shuffles both keyed (or co-keyed) on ``doc_id``.
The per-doc alternative (higher-order ``aggregate`` over the bigram array)
is O(len²) per document inside codegen; explode+groupBy is the shape that
survives long documents and 100 TB. Fractions are emitted as exact
parts-per-million via integer division (``1e6·a div b``) — no float
rounding to diverge across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from dbt_gdpr_anonymizer_spark.functions import text as tx
from dbt_gdpr_anonymizer_spark.operators.caching import persist

PPM = 1_000_000


def repetition_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics.

    Returns ``(id_col, n_words, dup_word_ppm, top_bigram_ppm)`` where the
    ppm columns are exact integer parts-per-million (0 for documents with
    too few words to have duplicates / bigrams).
    """
    ws = tx.words(text_col)
    base = docs.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("_nd"),
    )

    # Bigram frequency table: explode once, count per (doc, bigram), keep
    # only each doc's max count. Both aggregations combine map-side.
    bigrams = base.select(
        id_col,
        F.explode(
            F.when(
                F.col("n_words") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.col("n_words") - 1),
                    lambda i: F.concat_ws(
                        " ", F.col("_ws")[i - 1], F.col("_ws")[i]
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_bg"),
    )
    top_bigram = (
        bigrams.groupBy(id_col, "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_maxc"))
    )

    # `div` = exact integral division (DuckDB `//`) — no float rounding.
    out = base.join(top_bigram, id_col, "left").select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.when(
            F.col("n_words") > 0,
            F.expr(
                f"cast({PPM} as bigint) * (n_words - _nd) div n_words"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_word_ppm"),
        F.when(
            F.col("n_words") > 1,
            F.expr(
                f"cast({PPM} as bigint) * coalesce(_maxc, 0)"
                " div (n_words - 1)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_bigram_ppm"),
    )
    return out


def corpus_quality_gate(
    docs: DataFrame,
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    max_dup_word_ppm: int = 300_000,
    max_top_bigram_ppm: int = 180_000,
    max_punct_ppm: int = 200_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The cleaning DECISION (C4/Gopher-style): combine the repetition and
    punctuation signals into per-document keep/drop with an audit reason.

    Rules evaluate in a fixed precedence (first failure wins, so the
    reason column is deterministic): word-count bounds, duplicate-word
    fraction, top-bigram fraction, punctuation density. All signals are
    exact integers (ppm), so the gate reproduces bit-for-bit on any
    engine. Output: (id, n_words, dup_word_ppm, top_bigram_ppm,
    punct_ppm, reject_reason, keep) — keep the audit columns; dropping
    silently is how corpus bugs hide.

    Plan: ``repetition_profile``'s doc-keyed aggregates joined back to a
    per-row punctuation projection — one hash join on the id. The word
    arrays are computed once inside the profile; the punct scan is a
    per-row regexp count on the raw text (codegen, no shuffle).
    """
    prof = repetition_profile(docs, id_col=id_col, text_col=text_col)
    punct = docs.select(
        F.col(id_col),
        F.floor(tx.punct_ratio(text_col) * PPM)
        .cast("long")
        .alias("punct_ppm"),
    )
    j = prof.join(punct, id_col)
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_short"))
        .when(F.col("n_words") > max_words, F.lit("too_long"))
        .when(F.col("dup_word_ppm") > max_dup_word_ppm, F.lit("dup_words"))
        .when(
            F.col("top_bigram_ppm") > max_top_bigram_ppm,
            F.lit("repetitive_bigrams"),
        )
        .when(F.col("punct_ppm") > max_punct_ppm, F.lit("punct_heavy"))
    )
    return j.select(
        id_col,
        "n_words",
        "dup_word_ppm",
        "top_bigram_ppm",
        "punct_ppm",
        reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


def boilerplate_line_filter(
    docs: DataFrame,
    min_doc_freq: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style boilerplate removal: drop every LINE whose normalized form
    appears in at least ``min_doc_freq`` distinct documents (navigation,
    cookie banners, license footers — text that repeats across pages but
    never within a page, which document-level dedup cannot touch).

    Returns ``(id_col, clean_text, n_lines_kept, n_lines_dropped)`` with
    the surviving lines rejoined in original order.

    Scale shape: posexplode lines → distinct (doc, line) → line-keyed
    partial-agg doc-frequency (two keyed shuffles, both map-side
    combined); the boilerplate SET (lines with df ≥ threshold) is then
    BROADCAST into a left join — by construction it is the heavy-tailed
    head of the line distribution (bounded by corpus diversity, not
    corpus size; the decontamination-style small-side pattern). Rebuild
    is one doc-keyed ``collect_list`` of (pos, line) structs — Spark's
    ``collect_list`` drops nulls, so flagged lines vanish without a
    second filter pass — sorted per doc and rejoined. Blank lines are
    never counted as boilerplate (paragraph structure survives).
    """
    lines = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_norm", F.trim(F.lower(F.col("line"))))
    freq = (
        lines.filter(F.col("_norm") != "")
        .select(id_col, "_norm")
        .distinct()
        .groupBy("_norm")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_doc_freq)
        .select("_norm", F.lit(True).alias("_bp"))
    )
    flagged = lines.join(F.broadcast(freq), "_norm", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_bp").isNull(), F.struct("pos", "line"))
                )
            ).alias("_kept"),
            F.sum(
                F.when(F.col("_bp").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_lines_dropped"),
        )
        .select(
            id_col,
            F.array_join(
                F.transform("_kept", lambda x: x["line"]), "\n"
            ).alias("clean_text"),
            F.size("_kept").cast("long").alias("n_lines_kept"),
            "n_lines_dropped",
        )
    )


def cross_doc_span_profile(
    docs: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INTER-document duplicated-span profile (RefinedWeb / Lee et al.
    "Deduplicating Training Data Makes Language Models Better" signal):
    per document, the fraction of word ``k``-gram positions whose gram
    also occurs in at least one OTHER document — the template/boilerplate
    tell that intra-document repetition (:func:`repetition_profile`)
    cannot see. Corpora dominated by shared spans (mirrored pages, quote
    farms, licence headers) need span-level dedup before training even
    when no document pair crosses a near-dup threshold.

    Plan shape (the inverted-index discipline of ngram_jaccard, X17):
    positional k-grams explode linearly (no O(len²) per-doc work); the
    shared-gram set is one distinct + count aggregation with map-side
    partials, bounded by the number of DUPLICATED grams, never corpus
    positions; the per-doc count is a semi-join of positional grams
    against that set — gram-keyed hash joins end to end, no all-pairs.
    Releases are exact integral-division ppm BIGINTs.

    Output: ``(id_col, n_grams, shared_span_ppm)``; documents shorter
    than ``k`` words release ``(0, 0)``.
    """
    ws = tx.words(text_col)
    # persisted (r9): both the gram explode and the final rejoin need the
    # tokenized frame (even the rejoin's _n is size(words(text))) — the
    # cache cuts the second source scan + regex tokenization pass.
    base = persist(docs.select(
        F.col(id_col), ws.alias("_ws"), F.size(ws).alias("_n")
    ))
    # grams shuffle as 8-byte xxhash64 keys, not ~k-word strings — the
    # same md5-fingerprint collision stance as exact_dedup (P(collision)
    # ~ n²/2^65; a collision would need two distinct grams in one corpus)
    grams = base.select(
        id_col,
        F.explode(
            F.when(
                F.col("_n") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - k + 1),
                    lambda i: F.array_join(F.slice("_ws", i, k), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_g"),
    ).select(id_col, F.xxhash64("_g").alias("_gh"))
    # persisted: the shared-set chain and the probe side both read the
    # exploded grams — caching halves the normalize/split/slice string
    # work (measured 2.15s -> 1.38s at sf0.1); freed by the caller's
    # release_caches
    grams = persist(grams)
    shared = (
        grams.select(id_col, "_gh")
        .distinct()
        .groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 1)
        .select("_gh")
    )
    # r11 (guide §2.4): the id-spine back-join is folded into the per-doc
    # aggregation — one pad row per document carries _n with zero dup
    # weight, each semi-join survivor carries one dup count with NULL _n,
    # and a single groupBy releases both (max over {_n, NULLs} = _n;
    # sum(_d) = the old count(*), 0 for pad-only docs). Integer-exact,
    # and the corpus-sized LEFT join + its shuffle are gone at any scale.
    probe = grams.join(shared, "_gh", "left_semi").select(
        id_col,
        F.lit(None).cast("int").alias("_n"),
        F.lit(1).cast("long").alias("_d"),
    )
    padded = base.select(id_col, "_n", F.lit(0).cast("long").alias("_d"))
    n_grams = F.when(F.col("_n") >= k, F.col("_n") - k + 1).otherwise(
        F.lit(0)
    )
    return (
        probe.unionByName(padded)
        .groupBy(id_col)
        .agg(F.max("_n").alias("_n"), F.sum("_d").alias("_ndup"))
        .select(
            F.col(id_col),
            n_grams.cast("long").alias("n_grams"),
            F.col("_ndup").cast("long").alias("_ndup"),
        )
        .select(
            id_col,
            "n_grams",
            # exact integral division (DuckDB //) — no float step
            F.when(
                F.col("n_grams") > 0,
                F.expr(f"cast({PPM} as bigint) * _ndup div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("shared_span_ppm"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X123 cross-document duplicated-span REMOVAL (the surgical sibling of
    :func:`cross_doc_span_profile` — RefinedWeb's ExactSubstr-style
    "dedup-and-remove", Penedo et al. 2023 / Lee et al. 2022): instead of
    dropping whole near-dup documents, cut only the SPANS shared with
    other documents and keep the rest. A token survives unless it is
    covered by some word-``k``-gram position whose gram also occurs in at
    least one OTHER document.

    Plan shape: positional grams explode linearly; the shared-gram set is
    a df>1 aggregate (bounded by duplicated grams); matched positions
    semi-join that set, then each matched position expands into its ``k``
    covered token indices — a bounded blowup on MATCHES only, never the
    corpus — and the distinct covered set anti-joins the token list. The
    cleaned text is rebuilt with one sort_array(collect_list) per doc
    (single shuffle keyed on the doc id). Gram-keyed hash joins end to
    end; no all-pairs, no windows over corpus-wide orderings.

    Returns ``(id_col, clean_text, n_tokens, n_tokens_removed)`` —
    documents shorter than ``k`` words pass through unchanged.
    """
    ws = tx.words(text_col)
    # persisted (r9): the tokenized frame feeds the gram explode, the
    # positional token list, AND the final rejoin — without the cache the
    # source scan + regex tokenization ran three times per query.
    base = persist(docs.select(
        F.col(id_col),
        ws.alias("_ws"),
        # greatest(…, 0): NULL text yields a NULL word array whose size()
        # is -1 — release 0 tokens, not -1
        F.greatest(F.size(ws), F.lit(0)).alias("_n"),
    ))
    grams = base.select(
        id_col,
        F.explode(
            F.when(
                F.col("_n") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - k + 1),
                    lambda i: F.struct(
                        i.alias("p"),
                        F.array_join(F.slice("_ws", i, k), " ").alias("g"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<p:int,g:string>>")
            )
        ).alias("_pg"),
    ).select(
        id_col,
        F.col("_pg.p").alias("_p"),
        # 8-byte hash keys for the shuffles (same collision stance as
        # cross_doc_span_profile / exact_dedup)
        F.xxhash64(F.col("_pg.g")).alias("_gh"),
    )
    # persisted for the same shared-chain + probe reuse as
    # cross_doc_span_profile
    grams = persist(grams)
    shared = (
        grams.select(id_col, "_gh")
        .distinct()
        .groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 1)
        .select("_gh")
    )
    covered = (
        grams.join(shared, "_gh", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_p"), F.col("_p") + F.lit(k - 1))
            ).alias("_t"),
        )
        .distinct()
    )
    # r11 measured-and-REVERTED (the negative-result precedent): a tail
    # that collected covered POSITION INTEGERS per doc and rebuilt the
    # text map-side via array_except(sequence(1, n), covered) +
    # transform(element_at) — i.e. shuffle metadata instead of token
    # strings (guide §8) — profiled 2.40 → 2.93 s at sf0.1: the
    # interpreted per-element HOF evaluation (the char_entropy lesson)
    # costs more than the three string shuffles it saves at this corpus
    # size. The codegen'd posexplode/anti-join/collect_list tail below
    # stays the measured-faster plan.
    toks = base.select(
        id_col,
        F.posexplode(F.col("_ws")).alias("_pos0", "_tok"),
    ).select(id_col, (F.col("_pos0") + 1).alias("_t"), "_tok")
    kept = toks.join(covered, [id_col, "_t"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_t"), F.col("_tok")))
                ),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("_n").cast("long").alias("n_tokens"),
            (F.col("_n") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
    target,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """X133 DSIR (Xie et al. 2023, arXiv:2302.03169): hashed-n-gram
    importance weights for data selection — the standard pretraining-data
    curation step that up-samples raw-pool documents resembling a trusted
    target corpus.

    ``target`` is a boolean Column marking the target split (e.g.
    ``F.col("lang") == "en"``); every other document is the raw pool.
    Features are non-empty word unigrams plus adjacent bigrams, hashed
    into ``n_buckets`` buckets with the cross-engine md5-nibble idiom
    (first 5 hex nibbles mod ``n_buckets`` — stable across engines, runs,
    and partitionings, unlike any JVM hash). Two Laplace-smoothed
    bucket-multinomial models are fit (target ``p``, raw pool ``q``) and
    each document is scored with the DSIR log importance weight
    ``log w = Σ_b c_b · (ln p_b − ln q_b)`` over its bucket counts
    (``ln`` only — the engines agree bit-for-bit, the bm25/bigram-LM
    precedent). Resampling is then a downstream ``ORDER BY`` / Gumbel
    draw over the released weights.

    Scale design: one tokenize+explode pass is reduced immediately to the
    per-document bucket-count frame (persisted — at most
    ``docs × n_buckets`` rows, usually far fewer); the model table is
    derived from it with one more map-side-partial aggregation and is
    BUCKET-BOUNDED (≤ ``n_buckets`` rows), so the scoring join broadcasts
    the model, never shuffles the corpus a second time. No UDFs, no
    driver state.

    Returns ``(id_col, n_feats BIGINT, logw DOUBLE)``; documents with no
    features release ``(0, NULL)``.
    """
    from dbt_gdpr_anonymizer_spark.operators.lm import bigram_array

    ws = F.filter(tx.words(text_col), lambda w: w != "")
    feats = docs.select(
        F.col(id_col),
        target.cast("boolean").alias("_tgt"),
        F.explode(F.concat(ws, bigram_array(ws))).alias("_g"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_g")), 1, 5), 16, 10).cast("bigint")
        % n_buckets
    ).alias("_b")
    doc_bucket = persist(
        feats.select(id_col, "_tgt", bucket)
        .groupBy(id_col, "_tgt", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    by_bucket = doc_bucket.groupBy("_b").agg(
        F.sum(F.when(F.col("_tgt"), F.col("_c")).otherwise(F.lit(0))).alias(
            "_ct"
        ),
        F.sum(
            F.when(~F.col("_tgt"), F.col("_c")).otherwise(F.lit(0))
        ).alias("_cr"),
    )
    totals = by_bucket.groupBy().agg(
        F.sum("_ct").alias("_tt"), F.sum("_cr").alias("_tr")
    )
    model = by_bucket.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log(
                (F.col("_ct") + F.lit(1.0))
                / (F.col("_tt") + F.lit(n_buckets))
            )
            - F.log(
                (F.col("_cr") + F.lit(1.0))
                / (F.col("_tr") + F.lit(n_buckets))
            )
        ).alias("_dlog"),
    )
    scored = (
        doc_bucket.join(F.broadcast(model), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_feats"),
            F.sum(F.col("_c") * F.col("_dlog")).alias("logw"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            "logw",
        )
    )


def dsir_gumbel_topk(
    docs: DataFrame,
    target,
    *,
    m: int = 100,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """X133b DSIR selection step: sample ``m`` documents without
    replacement, with probability ∝ ``w^(1/temperature)``, via the
    Gumbel-top-k trick (Vieira 2014; the exact construction DSIR
    prescribes for its resampling stage): perturb each log-weight with an
    independent Gumbel draw and take the top ``m`` keys.

    The Gumbel is DETERMINISTIC — ``-ln(-ln(u))`` with ``u`` the
    md5-derived 52-bit uniform of ``md5(id ‖ salt)`` (privacy.uniform52,
    the repo-wide reproducible-randomness idiom), so the sample is stable
    across runs, partitionings, and engines, and the oracle can replay
    the entire draw. Featureless documents (NULL weight) are never
    selected. Top-m is a ``TakeOrdered`` (map-side partial top-m per
    partition, merge of k·partitions rows — never a full sort);
    ``(desc key, id)`` ordering makes the cut deterministic even under a
    (measure-zero) key tie.

    Returns ``(id_col, n_feats BIGINT, gumbel_key DOUBLE)`` for the
    selected documents.
    """
    from dbt_gdpr_anonymizer_spark.operators.privacy import uniform52

    w = dsir_importance_weights(
        docs, target, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    u = (
        uniform52(
            F.concat_ws("\x1f", F.col(id_col).cast("string"), F.lit(salt))
        )
        + F.lit(1.0)
    ) / F.lit(float((1 << 52) + 1))
    key = F.col("logw") / F.lit(float(temperature)) - F.log(-F.log(u))
    return (
        w.filter(F.col("logw").isNotNull())
        .select(F.col(id_col), "n_feats", key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), id_col)
        .limit(m)
    )


def char_entropy_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """X139 character-distribution gibberish gate: per-document Shannon
    entropy (nats) of the character frequency distribution, plus
    integer-exact companions. Low entropy = repeated-character spam
    ("aaaa..."), abnormally high = random-byte gibberish; both are
    standard corpus-quality cut signals alongside the Gopher word-level
    filters above.

    Plan (r7 perf rewrite): chars EXPLODE and collapse to
    map-side-combined ``(doc, char)`` counts — linear in corpus size —
    then one shuffle reassembles each document's CHAR-SORTED (char,
    count) array with ``sort_array(collect_list(...))``. All releases
    derive from that small bounded array (alphabet-sized) in one final
    projection, and the entropy sum folds over it SEQUENTIALLY in the
    binary-sorted char order, so the IEEE addition order stays pinned —
    the DuckDB oracle folds the identical terms in the identical order
    (list_reduce over the same sorted list), making the float path
    deterministic up to libm's ln (released as floor·1e4 BIGINT, the
    bigram-LM/DSIR precedent). The previous all-array-side version ran
    the per-char count filters as interpreted higher-order functions,
    O(alphabet·len) re-evaluated per output column — 42 s at sf0.1 where
    this plan takes ~1 s; outputs are bit-identical.

    Returns ``(id_col, n_chars BIGINT, n_distinct_chars BIGINT,
    top_char_count BIGINT, simpson_num BIGINT, entropy_e4 BIGINT)``:
    ``simpson_num`` = Σ count(c)² (the integer collision-index numerator;
    divide by n² for collision probability), ``entropy_e4`` NULL for
    empty/NULL text.

    r10 perf rewrite: ONE shuffle-free Arrow ``mapInPandas`` pass — the
    per-doc histogram is C-level ``collections.Counter`` and the
    entropy fold runs in the SAME code-point-sorted sequential order
    the oracle replays (``((0+t1)+t2)+…`` over code-point-ascending
    chars; Python sorts str by code point, which equals both the old
    plan's UTF-8 binary struct sort and DuckDB's default collation).
    Measured at sf0.1: 1.71 s (explode + two shuffles, prior plan) →
    0.81 s, outputs bit-identical across all 5 000 docs. The pass is
    narrow and linear — at 100 TB it is strictly better than the
    explode plan (zero Exchange vs two corpus-sized shuffles; Arrow
    ships each text exactly once). Unicode note: Python iterates CODE
    POINTS, exactly like the DuckDB oracle's ``regexp_split_to_array``
    — the previous JVM ``split('')`` yielded UTF-16 code units, which
    would have diverged from the oracle on astral-plane characters;
    this rewrite removes that latent mismatch. ``math.log`` and
    DuckDB's ``ln`` are the same container libm.
    """
    import math
    from collections import Counter

    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_chars bigint, n_distinct_chars bigint, "
        "top_char_count bigint, simpson_num bigint, entropy_e4 bigint"
    )

    def _profile(batches):
        for pdf in batches:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].astype(object).tolist()
            out = {
                id_col: ids,
                "n_chars": [],
                "n_distinct_chars": [],
                "top_char_count": [],
                "simpson_num": [],
                "entropy_e4": [],
            }
            for t in texts:
                if not isinstance(t, str) or t == "":
                    out["n_chars"].append(0)
                    out["n_distinct_chars"].append(0)
                    out["top_char_count"].append(None)
                    out["simpson_num"].append(0)
                    out["entropy_e4"].append(None)
                    continue
                cnt = Counter(t)
                n = len(t)
                nd = float(n)
                acc = 0.0
                # code-point-ascending order == the oracle's fold order
                for _, c in sorted(cnt.items()):
                    p = c / nd
                    acc = acc + p * math.log(p)
                out["n_chars"].append(n)
                out["n_distinct_chars"].append(len(cnt))
                out["top_char_count"].append(max(cnt.values()))
                out["simpson_num"].append(
                    sum(c * c for c in cnt.values())
                )
                out["entropy_e4"].append(math.floor(-acc * 10000))
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(_profile, schema)


def _bucketed_prefix_filter(
    df: DataFrame,
    rem: int,
    *,
    tokens_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Distributed greedy-prefix filter: keep rows, in ``id_col`` order,
    while the running ``tokens_col`` total stays ≤ ``rem`` — WITHOUT a
    single-partition global window. Built on the shared two-pass
    range-bucket machinery (``relational.range_bucket_offsets``, with
    ``weight_col``): each bucket runs its OWN id-ordered cumulative
    window and adds its broadcast preceding-buckets token total. Output
    is bit-identical to the global-window formulation (integer sums are
    associative); the plan is as parallel as the bucket count, and the
    bucketed frame is persisted across the passes (it only routes here
    when the stratum is ≥ millions of rows — exactly when recomputing
    the scan per pass would hurt).

    Requires a numeric ``id_col`` (approxQuantile); callers fall back to
    the global window otherwise.
    """
    from pyspark.sql.window import Window

    from dbt_gdpr_anonymizer_spark.operators.relational import (
        range_bucket_offsets,
    )

    bo = range_bucket_offsets(
        df, id_col, weight_col=tokens_col, n_buckets=n_buckets
    )
    w = Window.partitionBy("_gb").orderBy(F.col(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bo.withColumn("_cum", F.sum(tokens_col).over(w) + F.col("_goff"))
        .filter(F.col("_cum") <= F.lit(rem))
        .drop("_gb", "_goff", "_cum")
    )


def token_budget_select(
    docs: DataFrame,
    budget: int,
    *,
    score_col: str = "score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    max_boundary_rows: int = 4_000_000,
) -> DataFrame:
    """X144 token-budget data selection (the "select the best N tokens"
    step every pretraining run ends with — DoReMi/DSIR downstream, Xie et
    al. 2023): keep documents in quality order (``score_col`` DESC,
    ``id_col`` ASC tie-break) while the running token total stays within
    ``budget``. Prefix semantics: token counts are non-negative, so the
    running sum is monotone and the selected set is exactly the rows
    whose global cumulative token count ≤ budget.

    Scale design — NO corpus-wide window sort: a global
    ``sum() over (order by score desc)`` would funnel 100 TB through one
    partition. Instead (a) one map-side-combined aggregate builds the
    per-score token histogram (bounded by the score domain — integral
    ppm scores cap it at ~1e6 rows regardless of corpus size), (b) the
    cutoff stratum and its residual budget are derived from that bounded
    histogram on the driver (model state, the kmeans/generalize_to_k
    stance), (c) strata strictly above the cutoff pass with a plain
    filter (no shuffle beyond the scan), and only the SINGLE boundary
    stratum runs an id-ordered cumulative window — bounded by one score
    value's population, never the corpus.

    ``score_col`` and ``tokens_col`` must be integral (the registry
    feeds ppm scores — float scores would make histogram equality
    engine-fragile). Returns the selected rows ``(id_col, score_col,
    tokens_col)``.
    """
    from pyspark.sql.window import Window

    base = docs.select(id_col, score_col, tokens_col)
    hist = (
        base.groupBy(score_col)
        .agg(
            F.sum(tokens_col).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
        .collect()
    )
    hist.sort(key=lambda r: -r[score_col])
    cum = 0
    cutoff = None  # first stratum that does not fully fit
    rem = 0
    boundary_rows = 0
    for r in hist:
        if cum + r["_s"] <= budget:
            cum += r["_s"]
        else:
            cutoff = r[score_col]
            rem = budget - cum
            boundary_rows = r["_c"]
            break
    if cutoff is None:
        return base  # everything fits
    full = base.filter(F.col(score_col) > F.lit(cutoff))
    stratum = base.filter(F.col(score_col) == F.lit(cutoff))
    numeric_id = isinstance(
        base.schema[id_col].dataType, NumericType
    )
    if boundary_rows > max_boundary_rows and numeric_id:
        # Degenerate-input guard (all-ties corpora — constant scorers,
        # default-filled scores — make the "boundary stratum" the whole
        # corpus): past the threshold the id-ordered cumulative sum runs
        # through the range-bucketed two-pass scheme instead of one
        # global-ordered window. Bit-identical output either way.
        boundary = _bucketed_prefix_filter(
            stratum, rem, tokens_col=tokens_col, id_col=id_col
        )
    else:
        w = Window.orderBy(F.col(id_col)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        boundary = (
            stratum.withColumn("_cum", F.sum(tokens_col).over(w))
            .filter(F.col("_cum") <= F.lit(rem))
            .drop("_cum")
        )
    return full.unionByName(boundary)


def quantile_normalize_scores(
    docs: DataFrame,
    *,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """X145 per-source quantile score calibration: different corpus
    sources carry incomparable raw quality scores (a web-scrape scorer's
    0.4 ≠ a books scorer's 0.4); mixing pipelines normalize each score to
    its within-source percent-rank before applying one global gate
    (CCNet's per-shard quantiles, Wenzek et al. 2020). percent_rank uses
    the SQL definition — ties share the minimum rank — released as exact
    integer ppm: ``(strictly_below · 1e6) div (n − 1)``, 0 for
    single-row groups.

    Scale design — NO per-row window sort: ranking every row with
    ``percent_rank() over (partition by source order by score)`` sorts
    the full corpus inside each source partition (and one hot source is
    the norm, not the exception). Because ties share ranks, the rank is a
    function of ``(source, score)`` alone — so one map-side-combined
    aggregate builds the per-(source, score) count table (bounded by
    score domain × sources), the strictly-below running sum is a window
    over that BOUNDED aggregate, and rows get their rank back through
    one hash equi-join. The corpus is never sorted.

    Returns ``docs`` columns ``(id_col, group_col, score_col)`` plus
    ``calib_ppm`` (BIGINT). Rows with a NULL score are EXCLUDED (made
    explicit here — a NULL would otherwise vanish silently through the
    rank equi-join): a missing quality score has no rank, and callers
    should quarantine those rows, not calibrate them.
    """
    from pyspark.sql.window import Window

    base = docs.select(id_col, group_col, score_col).filter(
        F.col(score_col).isNotNull()
    )
    cnt = base.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(score_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cnt.select(
        group_col,
        score_col,
        (F.sum("_c").over(w) - F.col("_c")).alias("_below"),
        F.sum("_c").over(
            Window.partitionBy(group_col).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    # Null-safe on the GROUP key (r9, the md5_bucketed_rank lesson): a
    # NULL group is an ordinary partition to the window above, so the
    # rank join-back must not drop it. Scores are non-null by the filter.
    ranked = ranked.select(
        F.col(group_col).alias("_gj"),
        F.col(score_col).alias("_sj"),
        "_below",
        "_n",
    )
    return base.join(
        ranked,
        F.col(group_col).eqNullSafe(F.col("_gj"))
        & (F.col(score_col) == F.col("_sj")),
    ).select(
        id_col,
        group_col,
        score_col,
        F.when(F.col("_n") > 1, F.expr(f"(_below * {PPM}) div (_n - 1)"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("calib_ppm"),
    )


def source_ngram_novelty(
    docs: DataFrame,
    *,
    n: int = 3,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """X146 per-source n-gram novelty: which sources contribute CONTENT
    the rest of the corpus does not already have — the marginal-value
    signal mixture planning weighs against size (a mirror-heavy crawl
    source has huge token counts but near-zero exclusive n-grams). Per
    source: distinct word-``n``-grams, grams EXCLUSIVE to the source
    (df-over-sources = 1), and exclusivity in exact ppm.

    Scale design: grams explode linearly and immediately collapse to
    distinct ``(source, gram-hash)`` pairs (map-side combine); the
    per-gram source count and the final per-source rollup are both
    gram-keyed / source-keyed hash aggregates. Output is one row per
    source regardless of corpus size; nothing driver-side. Gram identity
    is xxhash64 inside the plan (the exact_dedup collision stance —
    2⁻⁶⁴ per pair); the oracle uses the gram strings themselves, so a
    collision would surface as a count mismatch.
    """
    # materialize the words array BEFORE the per-position transform: a
    # lambda that references the raw words(text) expression re-evaluates
    # the normalize+split per sequence element in the interpreted HOF
    # path (the char_entropy lesson) — O(len·grams) per row. Referencing
    # the materialized column is O(k) per gram.
    ws = tx.words(text_col)
    base = docs.select(
        F.col(group_col),
        ws.alias("_ws"),
        F.greatest(F.size(ws), F.lit(0)).alias("_n"),
    )
    grams = base.select(
        F.col(group_col),
        F.explode(
            F.when(
                F.col("_n") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - n + 1),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("_ws", i, n), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("_gh"),
    ).distinct()
    # persisted: the distinct pair frame feeds BOTH the per-gram source
    # count and the rollup join — without it each plan branch re-scans
    # the corpus and re-explodes the grams (plan-audited, r7)
    grams = persist(grams)
    df_s = grams.groupBy("_gh").agg(
        F.count(F.lit(1)).alias("_ns")
    )
    return (
        grams.join(df_s, "_gh")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("distinct_grams"),
            F.sum(
                F.when(F.col("_ns") == 1, 1).otherwise(0)
            ).cast("bigint").alias("exclusive_grams"),
        )
        .select(
            group_col,
            "distinct_grams",
            "exclusive_grams",
            F.when(
                F.col("distinct_grams") > 0,
                F.expr(f"(exclusive_grams * {PPM}) div distinct_grams"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("exclusive_ppm"),
        )
    )


def token_budget_select_by_group(
    docs: DataFrame,
    budget: int | dict,
    *,
    group_col: str = "source",
    score_col: str = "score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """X154 PER-GROUP token-budget selection — :func:`token_budget_select`
    with one budget per source: the step that turns a mixture plan's
    per-source token quotas (X118) into an actual document pick, keeping
    each source's best documents under ITS budget (a single global budget
    would let one high-scoring source starve the rest — the opposite of
    what mixture weighting is for). ``budget`` is an int (same cap for
    every group) or a dict ``{group: budget}`` (groups absent from the
    dict are excluded entirely).

    Same scale plan as X144, grouped: ONE map-side-combined
    (group, score) token histogram — bounded by groups × score domain,
    never corpus size — yields every group's cutoff stratum + residual
    driver-side; the cutoffs broadcast back as a tiny join table, strata
    strictly above a group's cutoff pass with a plain filter, and only
    boundary strata run the per-group id-ordered cumulative window
    (bounded by one score value's population per group). Returns the
    selected rows ``(id_col, group_col, score_col, tokens_col)``.
    """
    from pyspark.sql.window import Window

    base = docs.select(id_col, group_col, score_col, tokens_col)
    hist = (
        base.groupBy(group_col, score_col)
        .agg(F.sum(tokens_col).alias("_s"))
        .collect()
    )
    per_group: dict = {}
    for r in hist:
        per_group.setdefault(r[group_col], []).append(
            (r[score_col], r["_s"])
        )
    cut_rows = []
    for g, strata in per_group.items():
        b = budget.get(g) if isinstance(budget, dict) else budget
        if b is None:
            continue
        strata.sort(key=lambda t: -t[0])
        cum = 0
        cutoff, rem, all_fit = None, 0, True
        for score, s in strata:
            if cum + s <= b:
                cum += s
            else:
                cutoff, rem, all_fit = score, b - cum, False
                break
        cut_rows.append((g, cutoff, rem, all_fit))
    if not cut_rows:
        return base.limit(0)
    # Build the cutoff schema EXPLICITLY nullable: deriving it from
    # base.select(...) inherits the score column's nullability, and a
    # group whose strata all fit carries cutoff=None — with a
    # non-nullable score column (e.g. derived from count()/lit()) row
    # construction would fail on otherwise valid input.
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(
                group_col, base.schema[group_col].dataType, True
            ),
            StructField(
                "_cutoff", base.schema[score_col].dataType, True
            ),
            StructField("_rem", LongType(), True),
            StructField("_all_fit", BooleanType(), False),
        ]
    )
    # Null-safe on the group key (r9): a NULL group is a legitimate
    # histogram stratum (groupBy keeps it, and its budget resolves via
    # budget.get(None) / the int-budget arm) — a name-list join would
    # silently drop its rows here despite a computed cutoff row.
    cuts = F.broadcast(
        base.sparkSession.createDataFrame(cut_rows, schema).select(
            F.col(group_col).alias("_gj"), "_cutoff", "_rem", "_all_fit"
        )
    )
    j = base.join(
        cuts, F.col(group_col).eqNullSafe(F.col("_gj"))
    ).drop("_gj")
    full = j.filter(
        F.col("_all_fit") | (F.col(score_col) > F.col("_cutoff"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        j.filter(
            (~F.col("_all_fit")) & (F.col(score_col) == F.col("_cutoff"))
        )
        .withColumn("_cum", F.sum(tokens_col).over(w))
        .filter(F.col("_cum") <= F.col("_rem"))
    )
    keep = [id_col, group_col, score_col, tokens_col]
    return full.select(*keep).unionByName(boundary.select(*keep))


def gate_agreement(
    docs: DataFrame,
    *,
    min_words: int = 20,
    max_words: int = 80,
    max_dup_word_ppm: int = 250_000,
    max_top_bigram_ppm: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X155 quality-gate AGREEMENT matrix — the ablation diagnostic a
    curation team reads before composing gates: the 2³ decision
    histogram of three independent cut signals (length band,
    duplicate-word fraction, top-bigram fraction). Cells where gates
    disagree are where thresholds earn or destroy corpus — two gates
    that always agree are one gate (drop the expensive one); a gate that
    uniquely rejects large mass needs its threshold justified. The
    per-gate marginals are recoverable from the histogram by summation,
    so the 8 rows are the complete pairwise/threeway agreement picture.

    One :func:`repetition_profile` pass (linear explode+groupBy) feeds
    all three booleans; the rollup is one map-side-combined aggregate on
    the ≤8-value key. Returns ``(len_ok, dup_ok, bigram_ok,
    n_docs BIGINT, words_sum BIGINT)``.
    """
    prof = repetition_profile(docs, id_col=id_col, text_col=text_col)
    gated = prof.select(
        F.col("n_words").between(min_words, max_words).alias("len_ok"),
        (F.col("dup_word_ppm") <= max_dup_word_ppm).alias("dup_ok"),
        (F.col("top_bigram_ppm") <= max_top_bigram_ppm).alias(
            "bigram_ok"
        ),
        "n_words",
    )
    return gated.groupBy("len_ok", "dup_ok", "bigram_ok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("words_sum"),
    )


def distinctive_terms(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
    prior_mass: float = 100.0,
    min_corpus_count: int = 5,
) -> DataFrame:
    """X163 per-group DISTINCTIVE vocabulary — Monroe/Colaresi/Quinn
    "Fightin' Words" (2008) log-odds with an informed Dirichlet prior:
    for each group (source/language/domain), which words are
    over-represented relative to the REST of the corpus, z-scored so
    rare-word noise doesn't dominate (the raw log-odds failure tf-idf
    and PMI share). The dataset-card signal a curation team reads to
    understand what a source actually contains before weighting it.

    Per (group g, word w): delta = ln((y_gw + a_w) / (n_g + a0 - y_gw
    - a_w)) - ln((y_rw + a_w) / (n_r + a0 - y_rw - a_w)) with variance
    1/(y_gw + a_w) + 1/(y_rw + a_w) and z = delta / sqrt(variance),
    where the prior a_w = a0 · y_w / n follows corpus frequency, y_rw /
    n_r are rest-of-corpus counts, and words below ``min_corpus_count``
    corpus occurrences are excluded before scoring.

    Scale shape: one corpus tokenization explodes into map-side-combined
    ``(group, word)`` counts; word totals and group totals are
    vocab-bounded / group-bounded aggregates; the z arithmetic and the
    ``row_number`` top-k window run over the vocab-bounded count table
    PARTITIONED by group — corpus rows are touched exactly once.
    Cross-engine determinism: counts are exact BIGINTs, every float step
    is the same IEEE expression tree in both engines (the bm25/bigram-LM
    ``ln`` precedent), ranks tie-break on the word, and the release is
    floor(z·1e4) BIGINT.

    Returns ``(group_col, word, y_gw BIGINT, rank BIGINT, z_e4 BIGINT)``
    — the ``top_k`` most distinctive words per group.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(group_col), F.explode(tx.words(text_col)).alias("w")
    ).filter(F.col("w") != "")
    gw = toks.groupBy(group_col, "w").agg(
        F.count(F.lit(1)).alias("y_gw")
    )
    wt = gw.groupBy("w").agg(F.sum("y_gw").alias("y_w")).filter(
        F.col("y_w") >= min_corpus_count
    )
    gt = gw.groupBy(group_col).agg(F.sum("y_gw").alias("n_g"))
    tot = gt.agg(F.sum("n_g").alias("n"))
    a0 = F.lit(float(prior_mass))
    # The `w` join key is NULL-free by construction (explode of non-empty
    # tokens), but group_col may carry a NULL stratum — join it null-safely
    # so NULL-group rows score like any other group (the r9 eqNullSafe
    # campaign: quantile_normalize / token_budget_by_group / domain_cap /
    # md5_bucketed_rank all had this latent drop).
    gt_r = gt.withColumnRenamed(group_col, "__dt_g")
    j = (
        gw.join(wt, "w")
        .join(
            F.broadcast(gt_r),
            F.col(group_col).eqNullSafe(F.col("__dt_g")),
        )
        .drop("__dt_g")
        .crossJoin(F.broadcast(tot))
    )
    y_gw = F.col("y_gw").cast("double")
    y_w = F.col("y_w").cast("double")
    n_g = F.col("n_g").cast("double")
    n = F.col("n").cast("double")
    a_w = a0 * y_w / n
    y_rw = y_w - y_gw
    n_r = n - n_g
    delta = F.log(
        (y_gw + a_w) / (n_g + a0 - y_gw - a_w)
    ) - F.log((y_rw + a_w) / (n_r + a0 - y_rw - a_w))
    var = F.lit(1.0) / (y_gw + a_w) + F.lit(1.0) / (y_rw + a_w)
    z = delta / F.sqrt(var)
    scored = j.select(
        group_col,
        "w",
        F.col("y_gw").cast("bigint").alias("y_gw"),
        z.alias("_z"),
    )
    rk = Window.partitionBy(group_col).orderBy(
        F.desc("_z"), F.asc("w")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= top_k)
        .select(
            group_col,
            F.col("w").alias("word"),
            "y_gw",
            F.col("rank").cast("bigint").alias("rank"),
            F.floor(F.col("_z") * 10000).cast("bigint").alias("z_e4"),
        )
    )


def readability_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X175 Flesch-Kincaid readability grade — the classic
    textbook-quality curation signal (readability-band filtering in
    curated-corpus work), computed in PURE CODEGEN with a fully
    cross-engine-replayable syllable proxy:

    * ``n_words`` — whitespace token count.
    * ``n_sentences`` — runs of sentence punctuation ``[.!?]+``,
      minimum 1 for non-empty text (a fragment is one sentence).
    * ``n_syllables`` — vowel-group count over the lowercased text
      (``[aeiouy]+`` runs, the standard one-pass approximation) plus
      one per vowel-less consonant run (``rhythm``/``tv``-class
      tokens still carry a syllable); digit tokens contribute zero.
      The consonant-run count operates on an ASCII-normalized copy
      (``[^a-z0-9] → ' '``) so the ``\\b`` word boundary means the
      same thing in BOTH engines — Java's ``\\b`` is Unicode-aware
      while RE2's is ASCII-only, and on raw text they disagree the
      moment a non-ASCII letter abuts a consonant run (``crêpe``:
      Java sees ``cr`` as word-interior, RE2 sees a boundary at the
      ``ê``). Normalizing first makes the contract deterministic and
      identical across engines, pinned by a non-ASCII unit.

    ``fk_grade_e2 = floor(100 · (0.39·W/S + 11.8·Syl/W − 15.59))``
    (Kincaid et al. 1975), NULL for wordless text; the float chain is
    one fixed-shape expression evaluated identically by both engines
    over exact integer counts.

    Returns ``(id_col, n_words, n_sentences, n_syllables BIGINT,
    fk_grade_e2 BIGINT)``.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(t)
    w = tx.token_count_ws(t).cast("bigint")
    s_raw = F.regexp_count(t, F.lit("[.!?]+")).cast("bigint")
    s = F.when(w > 0, F.greatest(s_raw, F.lit(1))).otherwise(F.lit(0))
    vgroups = F.regexp_count(low, F.lit("[aeiouy]+")).cast("bigint")
    # vowel-less consonant runs still carry one syllable; count on the
    # ASCII-normalized copy so \b is engine-independent (see docstring)
    ascii_low = F.regexp_replace(low, "[^a-z0-9]", " ")
    novowel = F.regexp_count(
        ascii_low, F.lit(r"\b[b-df-hj-np-tv-xz]+\b")
    ).cast("bigint")
    syl = vgroups + novowel
    grade = (
        F.lit(0.39) * (w.cast("double") / s.cast("double"))
        + F.lit(11.8) * (syl.cast("double") / w.cast("double"))
        - F.lit(15.59)
    )
    return docs.select(
        F.col(id_col),
        w.alias("n_words"),
        s.cast("bigint").alias("n_sentences"),
        syl.alias("n_syllables"),
        F.when(w > 0, F.floor(grade * 100))
        .cast("bigint")
        .alias("fk_grade_e2"),
    )


def source_overlap_matrix(
    docs: DataFrame,
    *,
    n: int = 3,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise source-overlap matrix: for every unordered source pair,
    the EXACT count of shared distinct word-``n``-grams and the exact
    Jaccard in integer ppm — the "which sources mirror each other"
    planning view that X146's per-source exclusivity can't give (a
    source can be non-exclusive without telling you WHO it overlaps;
    dedup ordering and mixture dedup-priority need the pair).

    Scale design: grams collapse once to the distinct
    ``(source, gram-hash)`` incidence (map-side combine; xxhash64
    identity — the exact_dedup collision stance, while the oracle uses
    gram strings so a collision would surface); the pair counts come
    from ONE gram-keyed self-equi-join of that incidence (per-gram
    fan-out bounded by the SOURCE-domain size squared — catalog
    cardinality, never corpus rows); per-source totals are one keyed
    aggregate, broadcast-joined back onto the ≤ |S|²/2-row pair frame.
    ``jaccard_ppm = 1e6·shared div (tA + tB − shared)`` in exact
    integers. Returns ``(source_a, source_b, shared_grams, grams_a,
    grams_b, jaccard_ppm)``; non-overlapping pairs are absent (their
    Jaccard is 0).
    """
    ws = tx.words(text_col)
    base = docs.select(
        F.col(group_col),
        ws.alias("_ws"),
        F.greatest(F.size(ws), F.lit(0)).alias("_n"),
    )
    grams = base.select(
        F.col(group_col),
        F.explode(
            F.when(
                F.col("_n") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - n + 1),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("_ws", i, n), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("_gh"),
    ).distinct()
    grams = persist(grams)
    totals = grams.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_t")
    )
    a = grams.select(F.col(group_col).alias("source_a"), "_gh")
    b = grams.select(F.col(group_col).alias("source_b"), "_gh")
    pairs = (
        a.join(b, "_gh")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    return (
        pairs.join(
            F.broadcast(
                totals.select(
                    F.col(group_col).alias("source_a"),
                    F.col("_t").alias("grams_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                totals.select(
                    F.col(group_col).alias("source_b"),
                    F.col("_t").alias("grams_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.expr(
                "shared_grams * 1000000"
                " div (grams_a + grams_b - shared_grams)"
            )
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )
