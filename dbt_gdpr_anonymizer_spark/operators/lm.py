"""Statistical language-model scoring for corpus quality filtering.

CCNet / Gopher-style pipelines rank web documents by the perplexity of a
small LM trained on a trusted corpus and drop the worst tail. This module
implements that signal with a distributed **bigram model with Laplace
smoothing**, end to end in DataFrame ops:

  train:  bigram and unigram count tables (two map-side-combined groupBys
          over one exploded token frame);
  score:  per-document mean negative log-likelihood
          ``-ln P(w_i | w_{i-1})`` with ``P = (c12 + 1) / (c1 + V)``.

Scale design (100 TB): the (id, tokens) frame is persisted and shared, so
the corpus is tokenized exactly once and the cached frame is array-per-doc —
far smaller than the exploded event stream. The smoothing arithmetic is
folded onto the vocabulary-bounded model table (one ``ln`` per DISTINCT
bigram, not per corpus event), leaving a single events-sized equi-join on
the bigram key that AQE converts to a broadcast when the vocabulary is
small. No driver-side state, no UDFs; ``ln`` is used (not ``log2``) because
the two oracle engines agree on natural log bit-for-bit (the bm25/tfidf
precedent).

Extension surface beyond the reference (no LM anywhere in
tabodino/dbt-gdpr-anonymizer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.functions.text import words
from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "bigram_array",
    "bigram_lm_scores",
    "kn_bigram_lm_scores",
    "min_k_prob_scores",
    "pmi_collocations",
    "trigram_array",
    "trigram_lm_scores",
]


def bigram_array(ws: Column) -> Column:
    """Adjacent-pair strings ``"w1 w2"`` of a token array (no explode)."""
    n = F.size(ws)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(ws, 1, n - 1),
            F.slice(ws, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train a Laplace-smoothed bigram LM on the corpus and score every
    document by mean ``-ln P(w_i | w_{i-1})``.

    Returns one row per input document: ``(id_col, n_bigrams BIGINT,
    xent DOUBLE)`` — ``xent`` is NULL for documents with fewer than two
    tokens (no bigram events to score). Self-scoring keeps every bigram
    in-vocabulary, so the smoothing term only shifts probabilities; a
    held-out corpus can be scored by passing it through the same joins
    with the model tables reused.
    """
    # One tokenization pass feeds everything: persist the (id, tokens)
    # frame and derive bigram events, unigram counts, and the id spine
    # from the cache. The exploded event stream is persisted TOO — it is
    # consumed twice (model counts + scoring join) and bigram_array is a
    # zip_with lambda, i.e. interpreted HOF work that must not re-run
    # per consumer (the char_entropy lesson). Both caches are released
    # by the caller via caching.release_caches after the action.
    toks = persist(docs.select(F.col(id_col), words(text_col).alias("ws")))
    events = persist(toks.select(
        id_col, F.explode(bigram_array(F.col("ws"))).alias("bg")
    ))
    bigrams = events.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = (
        toks.select(F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))

    # r9 job-count/CPU cut: fold the smoothing arithmetic onto the
    # vocabulary-bounded MODEL table — one ln per distinct bigram instead
    # of one per corpus event, and ONE events-sized equi-join instead of
    # two. The per-event double is bit-identical (same formula over the
    # same (c12, c1, v) inputs), so the oracle hash is unchanged.
    neg_ll = -F.log(
        (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
    )
    model = (
        bigrams.withColumn("w1", F.split("bg", " ").getItem(0))
        .join(unigrams, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select("bg", neg_ll.alias("_nll"))
    )
    # r11 (guide §2.4): the id-spine back-join is folded into the scoring
    # aggregation as one NULL-_nll pad row per document — count(_nll)
    # counts only real scored events (every event's _nll is non-null:
    # c12 ≥ 1), so a document with no scorable bigram releases (0, NULL)
    # exactly as the old LEFT join did, and the corpus-sized join + its
    # shuffle are gone at any scale. sum over all-NULL is NULL and NULL/0
    # is NULL (Divide's null check precedes the ANSI zero check), so the
    # zero-bigram arm stays NULL-released.
    pad = toks.select(
        F.col(id_col), F.lit(None).cast("double").alias("_nll")
    )
    return (
        events.join(model, "bg")
        .select(id_col, "_nll")
        .unionByName(pad)
        .groupBy(id_col)
        .agg(
            F.count("_nll").cast("bigint").alias("n_bigrams"),
            (F.sum("_nll") / F.count("_nll")).alias("xent"),
        )
    )


def trigram_array(ws: Column) -> Column:
    """Adjacent-triple strings ``"w1 w2 w3"`` of a token array (no
    explode; nested zip_with, the :func:`bigram_array` idiom)."""
    n = F.size(ws)
    tails = F.zip_with(
        F.slice(ws, 2, n - 2),
        F.slice(ws, 3, n - 2),
        lambda b, c: F.concat(b, F.lit(" "), c),
    )
    return F.when(
        n >= 3,
        F.zip_with(
            F.slice(ws, 1, n - 2),
            tails,
            lambda a, bc: F.concat(a, F.lit(" "), bc),
        ),
    ).otherwise(F.array().cast("array<string>"))


def trigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambdas: tuple[float, float, float] = (0.6, 0.3, 0.1),
) -> DataFrame:
    """X167 interpolated trigram LM (Jelinek–Mercer smoothing — the
    actual shape of the CCNet/KenLM quality filter, one order up from
    :func:`bigram_lm_scores`): every document scores mean
    ``-ln P(w3 | w1 w2)`` under

        P = λ3·(c123+1)/(c12+V) + λ2·(c23+1)/(c2+V) + λ1·(c3+1)/(T+V)

    with fixed deterministic λs and Laplace inside each order (so every
    order is well-defined on its own), c12/c23 the corpus bigram counts,
    c2/c3 unigram counts, T total tokens, V vocabulary size.

    Scale shape: the :func:`bigram_lm_scores` design one order up — ONE
    persisted (id, tokens) frame feeds trigram events, bigram counts,
    and unigram counts (all map-side-combined keyed aggregates); ALL
    interpolation arithmetic folds onto the trigram-vocabulary-bounded
    MODEL table (four vocab-keyed joins + a 1-row broadcast — one ``ln``
    per DISTINCT trigram, never per corpus event), leaving a single
    events-sized equi-join on the trigram key. Self-scoring keeps every
    event in-vocabulary. Returns ``(id_col, n_trigrams BIGINT, xent
    DOUBLE)``; xent is NULL below 3 tokens."""
    l3, l2, l1 = (float(x) for x in lambdas)
    toks = persist(docs.select(F.col(id_col), words(text_col).alias("ws")))
    events = persist(toks.select(
        id_col, F.explode(trigram_array(F.col("ws"))).alias("tg")
    ))
    tri = events.groupBy("tg").agg(F.count(F.lit(1)).alias("c123"))
    bg = (
        toks.select(F.explode(bigram_array(F.col("ws"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cbg"))
    )
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    stats = F.broadcast(
        uni.agg(
            F.count(F.lit(1)).alias("v"),
            F.sum("cw").alias("t"),
        )
    )
    parts = F.split(F.col("tg"), " ")
    v, t = F.col("v"), F.col("t")
    p = (
        F.lit(l3)
        * ((F.col("c123") + F.lit(1.0)) / (F.col("c12") + v))
        + F.lit(l2) * ((F.col("c23") + F.lit(1.0)) / (F.col("c2") + v))
        + F.lit(l1) * ((F.col("c3") + F.lit(1.0)) / (t + v))
    )
    model = (
        tri.select(
            "tg",
            "c123",
            F.concat(
                parts.getItem(0), F.lit(" "), parts.getItem(1)
            ).alias("_ctx2"),
            F.concat(
                parts.getItem(1), F.lit(" "), parts.getItem(2)
            ).alias("_w23"),
            parts.getItem(1).alias("_w2"),
            parts.getItem(2).alias("_w3"),
        )
        .join(bg.select(F.col("bg").alias("_ctx2"),
                        F.col("cbg").alias("c12")), "_ctx2")
        .join(bg.select(F.col("bg").alias("_w23"),
                        F.col("cbg").alias("c23")), "_w23")
        .join(uni.select(F.col("w").alias("_w2"),
                         F.col("cw").alias("c2")), "_w2")
        .join(uni.select(F.col("w").alias("_w3"),
                         F.col("cw").alias("c3")), "_w3")
        .crossJoin(stats)
        .select("tg", (-F.log(p)).alias("_nll"))
    )
    # r11: id-spine back-join folded into the aggregation via NULL-_nll
    # pad rows (see bigram_lm_scores — count(_nll) skips the pads, every
    # real event's _nll is non-null, zero-trigram docs release (0, NULL)).
    pad = toks.select(
        F.col(id_col), F.lit(None).cast("double").alias("_nll")
    )
    return (
        events.join(model, "tg")
        .select(id_col, "_nll")
        .unionByName(pad)
        .groupBy(id_col)
        .agg(
            F.count("_nll").cast("bigint").alias("n_trigrams"),
            (F.sum("_nll") / F.count("_nll")).alias("xent"),
        )
    )


def kn_bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999 — the smoothing that actually wins LM evaluations, and
    the member of the family this tier lacked next to Laplace
    (:func:`bigram_lm_scores`) and Jelinek–Mercer
    (:func:`trigram_lm_scores`)): per document, mean
    ``-ln P_KN(w2 | w1)`` with absolute discount ``D`` and the
    CONTINUATION unigram backoff::

        P_KN(w2|w1) = max(c(w1 w2) - D, 0) / c(w1·)
                      + (D · N1+(w1 ·) / c(w1·)) · (N1+(· w2) / N1+(· ·))

    where ``c(w1·)`` is the bigram-prefix total, ``N1+(w1 ·)`` the
    distinct continuations of w1, ``N1+(· w2)`` the distinct contexts
    preceding w2, and ``N1+(· ·)`` the distinct bigram types. The
    continuation distribution — "how many contexts does this word
    complete" rather than "how often does it occur" — is the KN insight
    (the 'San Francisco' effect: frequent-but-one-context words stop
    leaking probability mass).

    Scale shape: EVERY model statistic derives from the vocabulary-
    bounded bigram count table alone — prefix totals / continuation
    counts / the 1-row type total are three aggregates over that SMALL
    frame, no second corpus pass; the whole mixture (one ``ln`` per
    DISTINCT bigram) folds onto it, leaving the single events-sized
    equi-join of the established LM plan. Self-scoring keeps every
    event in-vocabulary, so ``c(w1 w2) >= 1`` and both mixture arms are
    strictly positive — no zero-probability guard needed.

    Returns ``(id_col, n_bigrams BIGINT, xent DOUBLE)`` with xent NULL
    for docs with fewer than two tokens. Float determinism: the mixture
    is a fixed left-to-right IEEE chain over exact integer counts, one
    evaluation per distinct bigram (the trigram-LM stance); release
    through ``floor(xent·1e4)`` downstream.
    """
    toks = persist(docs.select(F.col(id_col), words(text_col).alias("ws")))
    events = persist(toks.select(
        id_col, F.explode(bigram_array(F.col("ws"))).alias("bg")
    ))
    parts = (
        events.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
    )
    pref = parts.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = parts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    types = parts.agg(F.count(F.lit(1)).alias("nt"))
    d_lit = F.lit(float(discount))
    p = (
        F.greatest(F.col("c12") - d_lit, F.lit(0.0)) / F.col("c1")
        + d_lit * F.col("n1f") / F.col("c1")
        * (F.col("n1p") / F.col("nt"))
    )
    model = (
        parts.join(pref, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select("bg", (-F.log(p)).alias("_nll"))
    )
    # r11: id-spine back-join folded into the aggregation via NULL-_nll
    # pad rows (see bigram_lm_scores — count(_nll) skips the pads; here
    # every event joins the model by construction, so _nll is non-null
    # for every real event and zero-bigram docs release (0, NULL)).
    pad = toks.select(
        F.col(id_col), F.lit(None).cast("double").alias("_nll")
    )
    return (
        events.join(model, "bg")
        .select(id_col, "_nll")
        .unionByName(pad)
        .groupBy(id_col)
        .agg(
            F.count("_nll").cast("bigint").alias("n_bigrams"),
            (F.sum("_nll") / F.count("_nll")).alias("xent"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """X174 PMI collocation extraction (Church & Hanks 1990): the top
    ``k`` adjacent word pairs by pointwise mutual information
    ``ln( (c12/T) / ((c1/T)·(c2/T)) ) = ln(c12·T / (c1·c2))`` — the
    classic distributional signal for multi-word expressions ("new
    york", "machine learning") that tokenizer-vocabulary builders and
    phrase-mining passes rank by. ``min_count`` drops unstable
    low-frequency pairs (the standard Church-Hanks hygiene; PMI of a
    hapax pair is pure noise).

    Scale shape: ONE corpus pass (the bigram explode feeding a
    map-side-combined count table — the X128 plan); unigram totals
    derive from the SAME bigram table (c1 = Σ over continuations of
    the left word + the per-doc last tokens… avoided entirely: unigram
    counts here are counted over the same bigram positions, i.e.
    ``c1(w) = Σ_v c(w v)`` and ``c2(w) = Σ_v c(v w)`` — left- and
    right-position marginals of the pair table, the standard
    collocation formulation; T = Σ c12). Everything after the one
    explode is vocab-bounded; the release is TakeOrdered (no window).
    One ``ln`` per surviving DISTINCT pair; released as
    ``floor(pmi·1e4)`` BIGINT (the LM precedent) ordered
    ``(pmi_e4 DESC, pair)``.

    Returns ``(pair STRING, n_pair BIGINT, pmi_e4 BIGINT)``.
    """
    toks = docs.select(F.col(id_col), words(text_col).alias("ws"))
    pairs = persist(
        toks.select(F.explode(bigram_array(F.col("ws"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
    )
    left = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = pairs.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = pairs.agg(F.sum("c12").alias("t"))
    pmi = F.log(
        F.col("c12").cast("double")
        * F.col("t").cast("double")
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return (
        pairs.filter(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("bg").alias("pair"),
            F.col("c12").cast("long").alias("n_pair"),
            F.floor(pmi * 10000).cast("bigint").alias("pmi_e4"),
        )
        .orderBy(F.desc("pmi_e4"), "pair")
        .limit(k)
    )


def min_k_prob_scores(
    docs: DataFrame,
    *,
    k_pct: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Min-K% prob membership-inference score (Shi et al. 2023,
    "Detecting Pretraining Data from Large Language Models"): per
    document, the mean negative log-likelihood of its K% LEAST-likely
    bigram events under the corpus bigram LM — the modern contamination
    / memorization probe that complements the lexical (n-gram) and
    semantic (embedding) decontamination tiers: a document the model
    has memorized has suspiciously FEW low-probability tokens, so a
    LOW min-K% score flags membership.

    Determinism contract: per-event NLLs quantize to ``floor(nll·1e4)``
    BIGINT ON THE VOCAB-BOUNDED MODEL TABLE (one ln + one floor per
    DISTINCT bigram — the bigram-LM fold stance), so everything
    per-document is integer arithmetic: sort the event-NLL array
    descending, take ``m = max(1, (n·k_pct) div 100)`` (ties across the
    cut are interchangeable for a sum), and release the exact
    ``(n_events, m, sum_topk_e4, mink_mean_e4 = sum div m)``.

    Scale shape: the model join is the bigram LM's single events-sized
    equi-join; the only per-doc state is the doc's own event array
    (bounded by document length — the chat_stats array-side stance),
    sorted and folded per row with NO cross-document shuffle beyond
    the one groupBy. Documents with no bigram events release
    ``(0, 0, NULL, NULL)``.
    """
    if not 1 <= int(k_pct) <= 100:
        raise ValueError("min_k_prob_scores: k_pct must be in [1, 100]")
    toks = persist(docs.select(F.col(id_col), words(text_col).alias("ws")))
    events = persist(toks.select(
        id_col, F.explode(bigram_array(F.col("ws"))).alias("bg")
    ))
    bigrams = events.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = (
        toks.select(F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    nll_e4 = F.floor(
        -F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
        * 10000
    ).cast("long")
    model = (
        bigrams.withColumn("w1", F.split("bg", " ").getItem(0))
        .join(unigrams, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select("bg", nll_e4.alias("_nll_e4"))
    )
    per_doc = (
        events.join(model, "bg")
        .groupBy(id_col)
        .agg(F.collect_list("_nll_e4").alias("_nlls"))
        .select(
            id_col,
            F.size("_nlls").cast("long").alias("n_events"),
            F.sort_array("_nlls", asc=False).alias("_sorted"),
        )
        .select(
            id_col,
            "n_events",
            F.greatest(
                F.lit(1), F.expr(f"(n_events * {int(k_pct)}) div 100")
            )
            .cast("long")
            .alias("m"),
            "_sorted",
        )
        .select(
            id_col,
            "n_events",
            "m",
            F.expr(
                "aggregate(slice(_sorted, 1, cast(m as int)), 0L,"
                " (a, x) -> a + x)"
            ).alias("sum_topk_e4"),
        )
        .select(
            id_col,
            "n_events",
            "m",
            "sum_topk_e4",
            F.expr("sum_topk_e4 div m").alias("mink_mean_e4"),
        )
    )
    return (
        toks.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("m", F.lit(0)).cast("long").alias("m"),
            F.col("sum_topk_e4").cast("long"),
            F.col("mink_mean_e4").cast("long"),
        )
    )
