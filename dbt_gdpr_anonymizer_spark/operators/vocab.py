"""Distributed BPE vocabulary induction (Sennrich et al. 2016) — the
tokenizer-training step of an LLM data pipeline, run as bounded Spark
aggregation rounds.

The classic byte-pair-encoding learner is a corpus-scale iteration: count
adjacent symbol pairs (weighted by word frequency), merge the most
frequent pair everywhere, repeat. The Spark-first shape:

* The corpus collapses ONCE to the distinct-word frequency table (one
  explode + groupBy). Every merge round then runs on the VOCAB, which is
  orders of magnitude smaller than the corpus and bounded by language
  diversity, not data volume — the corpus is never rescanned.
* Word state is a separator-joined symbol string; a merge is one literal
  ``replace`` over the state column (leftmost non-overlapping, which is
  exactly BPE's greedy left-to-right merge order — proven equivalent to
  the fold formulation in the unit tests).
* Each round is ONE aggregation job (pair explode → map-side-combined
  sum → TakeOrdered argmax); only the (left, right, freq) merge row —
  model state — crosses the driver per round. Rounds persist/rotate the
  vocab frame so lineage stays one round deep.
* Determinism: ties break on (freq desc, pair asc) over the [a-z0-9]
  symbol alphabet — the same binary string order in Spark and DuckDB, so
  the learned merge table replays exactly in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.functions import text as tx
from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "bpe_learn",
    "bpe_token_counts",
    "vocab_growth",
    "BPE_SEP",
    "BPE_END",
]

# Word state frames every symbol as  OPEN·sym·CLOSE  ("\x1fsym\x1e") with
# two control chars the normalized [a-z0-9] alphabet can never contain. A
# merge is then ONE literal replace of "\x1fL\x1e\x1fR\x1e" with
# "\x1fLR\x1e": the CLOSE sentinel terminates each symbol, so the pattern
# can never straddle a boundary — without it, a bare-separator encoding
# falsely merged (a,a) inside ["a","ab"] because "a" is a prefix of "ab"
# (caught by the hypothesis property vs the textbook greedy fold; both
# engines agreed on the WRONG answer, so only a semantic property could
# see it). Leftmost non-overlapping replace on the framed encoding is
# exactly BPE's greedy left-to-right merge order.
BPE_SEP = "\x1f"
BPE_END = "\x1e"


def _merge_state(state: str, left: str, right: str) -> str:
    """Apply one BPE merge to a framed word state (driver-side twin of
    the Column replace below; shared with the property tests)."""
    return state.replace(
        BPE_SEP + left + BPE_END + BPE_SEP + right + BPE_END,
        BPE_SEP + left + right + BPE_END,
    )


def bpe_learn(
    docs: DataFrame,
    *,
    n_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus.

    Returns the MERGE TABLE — ``(merge_rank, left, right, pair_freq)``
    with rank 1 = first (most frequent) merge — which IS the trained
    artifact a tokenizer consumes; all BIGINT/string columns, so the
    release is oracle-exact. Stops early (fewer rows) if the corpus runs
    out of adjacent pairs.
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tx.words(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = persist(words.select(
        F.concat(
            F.lit(BPE_SEP),
            F.array_join(F.split(F.col("w"), ""), BPE_END + BPE_SEP),
            F.lit(BPE_END),
        ).alias("s"),
        "freq",
    ))
    state.count()  # materialize before the rounds probe it repeatedly

    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(1, n_merges + 1):
            # strip the outer frame, split on CLOSE·OPEN -> symbol array
            syms = F.split(
                F.expr(f"substring(s, 2, length(s) - 2)"),
                BPE_END + BPE_SEP,
            )
            pairs = state.select(
                F.explode(
                    F.when(
                        F.size(syms) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(syms) - 1),
                            lambda i: F.concat(
                                F.element_at(syms, i),
                                F.lit(BPE_SEP),
                                F.element_at(syms, i + 1),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("p"),
                "freq",
            )
            best = (
                pairs.groupBy("p")
                .agg(F.sum("freq").alias("f"))
                .orderBy(F.desc("f"), F.asc("p"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            left, right = best[0]["p"].split(BPE_SEP)
            merges.append((rank, left, right, int(best[0]["f"])))
            new_state = persist(state.select(
                F.replace(
                    F.col("s"),
                    F.lit(
                        BPE_SEP + left + BPE_END + BPE_SEP + right + BPE_END
                    ),
                    F.lit(BPE_SEP + left + right + BPE_END),
                ).alias("s"),
                "freq",
            ))
            new_state.count()
            state.unpersist()
            state = new_state
    finally:
        state.unpersist()
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, left_sym string, right_sym string, "
        "pair_freq bigint",
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY a learned merge table: per-document token count under the
    BPE vocabulary — the train→apply pair a real tokenizer pipeline
    runs, and the sizing signal sequence packing consumes.

    The merge table is bounded MODEL state (n_merges rows), so it
    collects to the driver and compiles into a chain of literal
    ``replace`` expressions applied to each word's symbol string in
    merge-rank order (the same greedy leftmost semantics as training) —
    per-row whole-stage codegen, no join against the vocab, one
    doc-keyed aggregate. Returns ``(id_col, n_bpe_tokens)``; documents
    with no words release 0.
    """
    rows = merges.orderBy("merge_rank").collect()
    expr = F.concat(
        F.lit(BPE_SEP),
        F.array_join(F.split(F.col("_w"), ""), BPE_END + BPE_SEP),
        F.lit(BPE_END),
    )
    for r in rows:
        expr = F.replace(
            expr,
            F.lit(
                BPE_SEP
                + r["left_sym"]
                + BPE_END
                + BPE_SEP
                + r["right_sym"]
                + BPE_END
            ),
            F.lit(BPE_SEP + r["left_sym"] + r["right_sym"] + BPE_END),
        )
    # symbol count = CLOSE sentinel count
    ntok = (
        F.length(expr)
        - F.length(F.replace(expr, F.lit(BPE_END), F.lit("")))
    ).cast("bigint")
    per_doc = (
        docs.select(F.col(id_col), F.explode(tx.words(text_col)).alias("_w"))
        .filter(F.col("_w") != "")
        .groupBy(id_col)
        .agg(F.sum(ntok).alias("n_bpe_tokens"))
    )
    return (
        docs.select(id_col)
        .distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint").alias(
                "n_bpe_tokens"
            ),
        )
    )


def vocab_growth(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 16,
) -> DataFrame:
    """Heaps'-law vocabulary growth curve (Heaps 1978; Herdan 1960):
    cumulative distinct-token count vs cumulative token count at
    ``n_buckets`` checkpoints along the ``id_col`` document order — the
    sublinearity check (V ~ K·nᵝ, β ≈ 0.4-0.6 for natural language)
    that screens a source for boilerplate (β → 0: the same vocabulary
    repeating) or synthetic noise (β → 1: every token new).

    Never materializes per-checkpoint distinct counts: each token's
    FIRST document (one vocab-bounded min-aggregate over the explode
    pass) attributes it to exactly one document, so a checkpoint's
    vocabulary is the running sum of per-bucket new-token counts.
    Document positions come from relational.global_row_number (the
    range-bucketed exact scheme — no single-partition window); the
    bucket index is pure integer arithmetic against the 1-row doc
    count (broadcast cross join — the bounded 1-row-stats pattern);
    the only cumulative window runs over the ≤ ``n_buckets``-row
    bucket frame. Everything released is an exact BIGINT count.

    Returns ``(bucket, docs_cum, tokens_cum, vocab_cum)`` (empty
    buckets — possible when docs < n_buckets — are absent; cumulative
    values at present buckets are unaffected).
    """
    from pyspark.sql import Window

    from dbt_gdpr_anonymizer_spark.operators.relational import (
        global_row_number,
    )

    base = docs.select(
        F.col(id_col).alias("_vid"), tx.words(F.col(text_col)).alias("_ws")
    )
    first = (
        base.select("_vid", F.explode("_ws").alias("_w"))
        .groupBy("_w")
        .agg(F.min("_vid").alias("_vid"))
    )
    newv = first.groupBy("_vid").agg(
        F.count(F.lit(1)).cast("long").alias("_nv")
    )
    sized = base.select(
        "_vid", F.size("_ws").cast("long").alias("_nt")
    )
    pos = global_row_number(sized, "_vid", out_col="_rn")
    total = sized.agg(F.count(F.lit(1)).cast("long").alias("_ndocs"))
    bucketed = (
        pos.crossJoin(F.broadcast(total))
        .join(newv, "_vid", "left")
        .select(
            F.expr(f"((_rn - 1) * {n_buckets}) div _ndocs + 1")
            .cast("int")
            .alias("bucket"),
            "_nt",
            F.coalesce("_nv", F.lit(0)).cast("long").alias("_nv"),
        )
    )
    g = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("_docs"),
        F.sum("_nt").cast("long").alias("_toks"),
        F.sum("_nv").cast("long").alias("_newv"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "bucket",
        F.sum("_docs").over(w).cast("long").alias("docs_cum"),
        F.sum("_toks").over(w).cast("long").alias("tokens_cum"),
        F.sum("_newv").over(w).cast("long").alias("vocab_cum"),
    )
