"""Distributed multinomial Naive Bayes for corpus-scale document scoring.

LLM data pipelines gate documents with cheap linear text classifiers
(fastText quality/language filters in GPT-3, LLaMA, FineWeb-Edu). A
multinomial NB with Laplace smoothing is the aggregation-only member of
that family: training IS a pair of groupBy counts and scoring IS one join
plus a sum — every step an exact, oracle-replayable DataFrame op.

  train (labeled split):  per-(word, class) occurrence counts, class token
                          totals, class document priors, vocabulary size;
  score (all documents):  log-odds  ln P(pos|d) - ln P(neg|d)
      = ln(n_pos/n_neg) + sum_tokens [ ln P(w|pos) - ln P(w|neg) ]
      with P(w|c) = (c_wc + 1) / (T_c + V); out-of-vocabulary tokens
      contribute the smoothing-floor ratio ln((T_neg+V)/(T_pos+V)).

Scale design (100 TB): the model is vocabulary-bounded — the per-word
log-ratio table joins the exploded token stream on the word key (AQE
broadcasts it when small); the four scalar totals ride a 1-row broadcast
cross join. One corpus tokenization feeds training counts and scoring via
a persisted token frame. ``ln`` only (the bm25 parity precedent), no UDFs,
no driver-side state beyond nothing at all.

Extension surface beyond the reference (no classifier anywhere in
tabodino/dbt-gdpr-anonymizer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.functions.text import words
from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = ["auc_exact", "naive_bayes_scores"]


def naive_bayes_scores(
    docs: DataFrame,
    label: Column,
    train: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train multinomial NB on ``docs`` rows where ``train`` is true
    (binary ``label``), then score EVERY document.

    Returns ``(id_col, n_tokens BIGINT, logodds DOUBLE, pred_pos
    BOOLEAN)``. A zero-token document scores exactly the class prior.
    Raises if either class has no training documents (priors undefined).
    """
    base = docs.select(
        F.col(id_col),
        words(text_col).alias("ws"),
        label.alias("y"),
        train.alias("is_train"),
    )
    toks = persist(base.select(
        id_col, "y", "is_train", F.explode("ws").alias("w")
    ).filter(F.col("w") != ""))

    tr = toks.filter("is_train")
    # Vocabulary-bounded model tables.
    wc = tr.groupBy("w").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("c_neg"),
    )
    # Scalar stats: class token totals, vocabulary size, document priors.
    doc_counts = base.filter("is_train").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("n_neg"),
    )
    tok_totals = wc.agg(
        F.sum("c_pos").alias("t_pos"),
        F.sum("c_neg").alias("t_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    stats = F.broadcast(doc_counts.crossJoin(tok_totals))

    n_pos, n_neg = F.col("n_pos"), F.col("n_neg")
    t_pos, t_neg, v = F.col("t_pos"), F.col("t_neg"), F.col("v")
    # r9 CPU cut: fold the smoothing logs onto the vocabulary-bounded
    # model table — two ``ln`` calls per DISTINCT word, not per corpus
    # token, and the token-stream join carries one double instead of two
    # counts. Each per-token double is bit-identical to the old
    # per-occurrence formula (same expression over the same inputs), so
    # the oracle hash is unchanged. OOV tokens (left-join miss) fall to
    # the smoothing floor ln((1/(t_pos+v)) / (1/(t_neg+v))), computed
    # from the same 1-row broadcast with the same (0+1.0) numerator
    # shape the per-occurrence formula produced.
    word_ratio = wc.crossJoin(F.broadcast(tok_totals)).select(
        "w",
        (
            F.log((F.col("c_pos") + F.lit(1.0)) / (t_pos + v))
            - F.log((F.col("c_neg") + F.lit(1.0)) / (t_neg + v))
        ).alias("_lr"),
    )
    oov_floor = F.log((F.lit(0) + F.lit(1.0)) / (t_pos + v)) - F.log(
        (F.lit(0) + F.lit(1.0)) / (t_neg + v)
    )
    # r11 (guide §2.4): the id-spine back-join is folded into the scoring
    # aggregation as one NULL-_ll pad row per DOCUMENT — the OOV coalesce
    # runs BEFORE the union, so a real token's _ll is always non-null
    # (in-vocab ratio or the smoothing floor) and the pad NULL stays
    # distinguishable: count(_ll) counts real tokens only, sum(_ll) is
    # NULL for zero-token docs (handled by the existing coalesce below).
    # Removes the corpus-sized LEFT join + its shuffle at any scale.
    tok_ll = (
        toks.join(word_ratio, "w", "left")
        .crossJoin(stats)
        .select(
            id_col, F.coalesce(F.col("_lr"), oov_floor).alias("_ll")
        )
    )
    pad = base.select(
        F.col(id_col), F.lit(None).cast("double").alias("_ll")
    )
    contrib = (
        tok_ll.unionByName(pad)
        .groupBy(id_col)
        .agg(
            F.count("_ll").alias("n_tokens"),
            F.sum("_ll").alias("token_ll"),
        )
    )
    # Empty-class training splits make the prior undefined: fail loudly at
    # execution. (A Cast over assert_true's NullType constant-folds the
    # assert away — the raise_error branch survives the optimizer.)
    prior = F.when(
        (n_pos > 0) & (n_neg > 0),
        F.log(n_pos.cast("double")) - F.log(n_neg.cast("double")),
    ).otherwise(
        F.expr(
            "raise_error('naive_bayes_scores: "
            "a class has no training documents')"
        )
    )
    return (
        contrib.crossJoin(stats)
        .select(
            id_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (prior + F.coalesce("token_ll", F.lit(0.0))).alias("logodds"),
        )
        .withColumn("pred_pos", F.col("logodds") > 0)
    )


def auc_exact(
    scored: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC via the Mann–Whitney U statistic — the classifier
    metrology every quality-gate deployment needs next to its scores
    (a gate with unmeasured ranking power is half an answer; the
    pq_recall_report stance), computed WITHOUT a corpus sort.

    AUC = P(score_pos > score_neg) + ½·P(tie) =
    (Σ r_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg) with tie-average
    ranks. Ranks come from the (score, count, pos-count) HISTOGRAM:
    the doubled tie-average rank of a score value with total count
    ``c`` and ``f`` strictly-smaller rows is the exact integer
    ``2f + c + 1`` (the spearman/gini stance), so
    ``auc_ppm = (1e6·(Σ cpos·(2f+c+1) − n_pos(n_pos+1))) div
    (2·n_pos·n_neg)`` is integer-exact end to end — the numerator is
    non-negative by construction (positives at the global bottom give
    exactly n_pos(n_pos+1)).

    Scale stance: the global strictly-smaller cumulative ``f`` over
    the score histogram uses relational.range_bucket_offsets (the
    global_row_number machinery — per-bucket window + broadcast
    prefix, NO single-partition window even when the score domain is
    corpus-sized); sums accumulate in decimal(38,0). ``score_col``
    must be integral (quantized scores — the established fail-fast);
    ``label_col`` must be boolean; NULL labels/scores are excluded.
    Returns ONE row ``(n_pos, n_neg, auc_ppm)``; a single-class input
    releases NULL auc_ppm."""
    from dbt_gdpr_anonymizer_spark.operators.relational import (
        range_bucket_offsets,
    )

    t = dict(scored.dtypes).get(score_col)
    if t not in {"tinyint", "smallint", "int", "bigint"}:
        raise TypeError(
            f"auc_exact: score column {score_col!r} has type {t}; "
            "quantize to an integral type first (the logodds_e4 "
            "convention — float scores would need a float rank order)"
        )
    rows = scored.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("bigint").alias("_s"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    hist = rows.groupBy("_s").agg(
        F.count(F.lit(1)).cast("long").alias("_c"),
        F.sum(F.when(F.col("_y"), 1).otherwise(0))
        .cast("long")
        .alias("_cpos"),
    )
    bo = range_bucket_offsets(hist, "_s", weight_col="_c")
    w = (
        Window.partitionBy("_gb")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = bo.select(
        "_c",
        "_cpos",
        (
            F.coalesce(F.sum("_c").over(w), F.lit(0)) + F.col("_goff")
        ).cast("long").alias("_f"),
    )
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.sum(
            F.col("_cpos").cast(dec)
            * (
                F.lit(2).cast(dec) * F.col("_f").cast(dec)
                + F.col("_c").cast(dec)
                + F.lit(1).cast(dec)
            )
        )
        .cast(dec)
        .alias("_sum2r"),
        F.sum("_cpos").cast("long").alias("n_pos"),
        F.sum("_c").cast("long").alias("_n"),
    )
    return agg.select(
        "n_pos",
        (F.col("_n") - F.col("n_pos")).alias("n_neg"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("_n") - F.col("n_pos") > 0),
            F.expr(
                "(_sum2r - cast(n_pos as decimal(38,0)) * (n_pos + 1))"
                " * 1000000"
                " div (2 * cast(n_pos as decimal(38,0))"
                " * (_n - n_pos))"
            ),
        )
        .cast("bigint")
        .alias("auc_ppm"),
    )
