"""Probabilistic record linkage: blocked Fellegi–Sunter scoring.

The duplicate-subject problem a GDPR controller actually has — the
same person entered twice with a typo'd name and a reformatted phone —
is upstream of every right the reference implements: an Art. 17
erasure that misses the duplicate row fails. Fellegi & Sunter (JASA
1969) formalize the decision: compare candidate pairs on a vector of
field-agreement tests, sum per-field log-likelihood weights
(``ln(m/u)`` for agreement, ``ln((1−m)/(1−u))`` for disagreement), and
classify by thresholds into match / possible / non-match.

Scale shape — the textbook one:

* **Blocking** replaces the cartesian: candidates come from a hash
  equi-join on caller-chosen block keys (NULL blocks drop, standard
  blocking semantics). Block sizing is the caller's recall/cost dial;
  the operator never plans a nested loop.
* **Comparators are pure codegen** — equality, ``levenshtein`` (native
  in both Spark and DuckDB, same DP definition — cross-engine
  parity unit-pinned), substring agreement — evaluated per candidate
  only.
* **Weights are INTEGER e6 literals** fixed by the caller (the
  trained-model stance: m/u estimation is an offline EM fit, the
  scoring pass is deterministic), so the score is an exact integer
  sum — no float fold.
* Only pairs at or above the *possible* threshold release (bounded
  output); per-field agreement bits ride along so every decision is
  auditable.

No reference counterpart: tabodino/dbt-gdpr-anonymizer masks fields
(``macros/mask_*.sql``) but has no identity-resolution layer; linking
is what makes its subject-level guarantees hold across dirty data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["fs_link_pairs"]


def fs_link_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    block_cols: list[str],
    tests: dict[str, Column],
    weights: dict[str, tuple[int, int]],
    *,
    match_threshold_e6: int,
    possible_threshold_e6: int,
) -> DataFrame:
    """Blocked Fellegi–Sunter pair scoring.

    ``left``/``right`` columns are exposed to the ``tests`` expressions
    as ``a_<col>`` / ``b_<col>``; each test must be a boolean Column
    (NULL evaluates as disagreement — the conservative convention for
    missing fields). ``weights[name] = (agree_e6, disagree_e6)`` are
    integer micro-units of the Fellegi–Sunter log-likelihood ratios;
    ``score_e6 = Σ (agree ? agree_e6 : disagree_e6)`` is an exact
    integer sum. Pairs classify ``'match'`` at
    ``score_e6 ≥ match_threshold_e6``, else ``'possible'`` at
    ``≥ possible_threshold_e6``; everything below is filtered out (the
    released frame stays bounded by the thresholds, not the block
    fan-out).

    Returns ``(a_id, b_id, agree_<name>... INT bits, score_e6,
    decision)``.
    """
    if set(tests) != set(weights):
        raise ValueError(
            "fs_link_pairs: tests and weights must cover the same names"
        )
    if not block_cols:
        # An empty block list would leave cond=None and degenerate into an
        # unconditioned cartesian join — the exact shape the module's
        # blocking contract exists to prevent. Fail fast (repo precedent:
        # gini/zorder TypeError guards, unsafe-salt ValueError).
        raise ValueError(
            "fs_link_pairs: block_cols must be non-empty — blocking is "
            "what replaces the cartesian pair space"
        )
    a = left.select([F.col(c).alias(f"a_{c}") for c in left.columns])
    b = right.select([F.col(c).alias(f"b_{c}") for c in right.columns])
    cond = None
    for c in block_cols:
        eq = F.col(f"a_{c}") == F.col(f"b_{c}")
        cond = eq if cond is None else (cond & eq)
    joined = a.join(b, cond)
    bits = {
        name: F.when(F.coalesce(t, F.lit(False)), 1).otherwise(0)
        for name, t in tests.items()
    }
    score = None
    for name, bit in bits.items():
        wa, wd = weights[name]
        term = F.when(bit == 1, F.lit(int(wa))).otherwise(
            F.lit(int(wd))
        ).cast("long")
        score = term if score is None else (score + term)
    out = joined.select(
        F.col(f"a_{id_col}").alias("a_id"),
        F.col(f"b_{id_col}").alias("b_id"),
        *[bit.cast("int").alias(f"agree_{n}") for n, bit in bits.items()],
        score.alias("score_e6"),
    )
    return (
        out.where(F.col("score_e6") >= F.lit(int(possible_threshold_e6)))
        .withColumn(
            "decision",
            F.when(
                F.col("score_e6") >= F.lit(int(match_threshold_e6)),
                F.lit("match"),
            ).otherwise(F.lit("possible")),
        )
    )
