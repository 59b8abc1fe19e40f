"""Numeric-distribution profiling: Benford conformity and Gini
concentration.

Two audit-grade signals over money-like columns, both released as
integer-exact counts plus fixed-shape float statistics (the engine-
stable floor(x·1e6) convention):

* **Benford's law** (Newcomb 1881; Benford 1938; Nigrini's forensic-
  accounting usage): naturally-occurring multi-scale amounts have
  leading-digit frequencies P(d) = log10(1 + 1/d); fabricated or
  constrained data deviates. The classic data-quality / fraud screen
  for a pipeline ingesting financial columns at scale.
* **Gini coefficient** over per-row amounts within a group — the
  concentration / inequality measure behind "is this source dominated
  by a few heavy rows", computed EXACTLY from the (group, value)
  count histogram, never by sorting the corpus.

Scale shapes: Benford is ONE map-side-combined groupBy (9 conditional
sums per group — the digit comes from the integer part's decimal
string, no float log10 whose rounding could misclassify exact powers
of ten); Gini is the group_quantiles_exact histogram pattern
(operators/relational.py:35): collapse to (group, value) counts, one
window over the SMALL histogram partitioned by group, one final
groupBy. Rank sums aggregate in decimal(38,0) so corpus-scale totals
cannot overflow int64.

No reference counterpart: tabodino/dbt-gdpr-anonymizer's quality gate
checks nulls and regex PII (``generate_pii_report.sql:20-176``);
distribution-level conformity screens extend that surface.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "benford_profile",
    "changepoint_scan",
    "gini_concentration",
    "ks_drift",
    "spearman_corr",
]

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

# expected Benford proportions, driver-side doubles embedded as the
# SAME literals in the DuckDB oracle (the shared-literal stance)
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_profile(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Leading-digit profile of ``abs(value)``'s integer part per group.

    Rows with NULL value or ``abs(value) < 1`` are excluded (they have
    no integer leading digit — documented contract; money columns at
    audit granularity are ≥ 1). The digit is the first character of
    the BIGINT's decimal rendering — string-exact in both engines, no
    ``log10`` float boundary at exact powers of ten.

    Returns one row per group:
    ``(group, n_total, d1..d9, chi2_e6, mad_ppm)`` where
    ``chi2 = Σ_d (n_d − n·p_d)² / (n·p_d)`` and
    ``mad = Σ_d |n_d/n − p_d| / 9`` (Nigrini's mean absolute
    deviation), both folded in pinned digit order 1..9 and released as
    ``floor(x · 1e6)`` BIGINT. One map-side-combined groupBy; the
    fold runs over the group's own 9 counts, so the whole statistic is
    per-row codegen after the single shuffle."""
    base = df.where(
        F.col(value_col).isNotNull() & (F.abs(F.col(value_col)) >= 1)
    ).select(
        F.col(group_col).alias("grp"),
        F.substring(
            F.floor(F.abs(F.col(value_col))).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("_d"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_total")] + [
        F.sum(F.when(F.col("_d") == d, 1).otherwise(0))
        .cast("long")
        .alias(f"d{d}")
        for d in range(1, 10)
    ]
    counts = base.groupBy("grp").agg(*aggs)
    t = F.col("n_total").cast("double")
    chi_terms = [
        (F.col(f"d{d}").cast("double") - t * F.lit(BENFORD_P[d]))
        * (F.col(f"d{d}").cast("double") - t * F.lit(BENFORD_P[d]))
        / (t * F.lit(BENFORD_P[d]))
        for d in range(1, 10)
    ]
    mad_terms = [
        F.abs(F.col(f"d{d}").cast("double") / t - F.lit(BENFORD_P[d]))
        for d in range(1, 10)
    ]
    chi2 = reduce(lambda a, b: a + b, chi_terms)
    mad = reduce(lambda a, b: a + b, mad_terms) / F.lit(9.0)
    return counts.select(
        F.col("grp"),
        "n_total",
        *[f"d{d}" for d in range(1, 10)],
        F.floor(chi2 * 1000000).cast("bigint").alias("chi2_e6"),
        F.floor(mad * 1000000).cast("bigint").alias("mad_ppm"),
    )


def gini_concentration(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Exact Gini coefficient of the non-negative BIGINT ``value_col``
    within each group, from the (group, value) count histogram.

    With group values sorted ascending and 1-based ranks, ``G =
    (2·Σ_i i·x_i − (n+1)·Σx) / (n·Σx)``. Ties collapse into the
    histogram: a value ``v`` with count ``c`` and ``f`` strictly-
    smaller rows has rank sum ``c·f + c·(c+1)/2``, so its DOUBLED
    contribution is ``v·c·(2f + c + 1)`` — kept doubled to stay in
    pure integer arithmetic (no /2), no corpus sort, no per-row
    window. The only window runs over the (group, value) HISTOGRAM
    partitioned by group (the group_quantiles_exact scale stance);
    rank sums accumulate in decimal(38,0) so corpus-scale totals
    cannot overflow int64. The final ratio ``(2T − (n+1)S) / (n·S)``
    is evaluated in doubles from those exact integers (identical
    int→double casts in both engines) and released as ``gini_e6 =
    floor(G · 1e6)`` BIGINT next to the exact ``n`` and ``sum_value``
    witnesses.

    ``value_col`` must already be an integral type — the operator
    never casts a float itself because double→bigint casts ROUND in
    DuckDB but TRUNCATE in Spark (callers floor() explicitly, the
    zorder_key fail-fast precedent). Values must be non-negative
    (Gini is undefined below zero; the money columns this runs on are
    non-negative by construction). NULL values are excluded; groups
    with ``sum = 0`` release NULL gini (0/0 guarded)."""
    t = dict(df.dtypes).get(value_col)
    if t not in _INTEGRAL:
        raise TypeError(
            f"gini_concentration: column {value_col!r} has type {t}; "
            "floor() to an integral type first (double->bigint casts "
            "round in DuckDB but truncate in Spark)"
        )
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.withColumn(
        "f", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long")
    )
    dec = "decimal(38,0)"
    two_t = (
        F.col("v").cast(dec)
        * F.col("c").cast(dec)
        * (
            F.lit(2).cast(dec) * F.col("f").cast(dec)
            + F.col("c").cast(dec)
            + F.lit(1).cast(dec)
        )
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("v").cast(dec) * F.col("c").cast(dec))
            .cast(dec)
            .alias("_s"),
            F.sum(two_t).cast(dec).alias("_t2"),
        )
        .select(
            "grp",
            "n",
            F.col("_s").cast("long").alias("sum_value"),
            F.when(
                F.col("_s") > 0,
                F.floor(
                    (
                        (
                            F.col("_t2").cast("double")
                            - (F.col("n").cast("double") + F.lit(1.0))
                            * F.col("_s").cast("double")
                        )
                        / (
                            F.col("n").cast("double")
                            * F.col("_s").cast("double")
                        )
                    )
                    * 1000000
                ).cast("bigint"),
            ).alias("gini_e6"),
        )
    )


def changepoint_scan(
    df: DataFrame,
    group_col: str,
    time_col: str,
    count_col: str,
) -> DataFrame:
    """Two-sample mean-shift scan over an ordered per-period count
    table — the volume-changepoint question monitoring asks of an
    events stream ("when did this event type's daily rate jump"),
    scored at every candidate split exactly.

    For a group's periods 1..T with counts x_t, cumulative S_t and
    total S, the split statistic at interior t is the absolute
    mean gap |S_t/t − (S−S_t)/(T−t)|, evaluated as the EXACT integer
    rational ``(1e6 · |S_t·(T−t) − (S−S_t)·t|) div (t·(T−t))`` — no
    float division whose rounding could reorder near-tied splits. The
    numerator scales in decimal(38,0) (corpus-size · 1e6 overflows
    int64; ``div`` on decimals releases an exact BIGINT). The largest
    ``gap_ppm`` row per group is the changepoint candidate; ALL splits
    release so the whole scan profile is checkable.

    Scale stance: the input is the (group, period) COUNT table — the
    caller aggregates the corpus first, so every window here is
    PARTITIONED by group over a period-domain-bounded frame (the
    group-histogram precedent), never the raw corpus. Returns
    ``(group, period, t, gap_ppm)`` for interior splits (t < T);
    groups with one period release nothing.
    """
    w_ord = Window.partitionBy(group_col).orderBy(time_col)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("period"),
        F.col(count_col).cast("long").alias("_x"),
    )
    scanned = base.select(
        "grp",
        "period",
        F.row_number().over(w_ord).cast("long").alias("t"),
        F.sum("_x").over(w_cum).cast("long").alias("_st"),
        F.sum("_x").over(w_all).cast("long").alias("_s"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("_tt"),
    ).where(F.col("t") < F.col("_tt"))
    a = F.abs(
        F.col("_st") * (F.col("_tt") - F.col("t"))
        - (F.col("_s") - F.col("_st")) * F.col("t")
    )
    return (
        scanned.withColumn("_a", a)
        .select(
            "grp",
            "period",
            "t",
            F.expr(
                "cast(_a as decimal(38,0)) * 1000000"
                " div (t * (_tt - t))"
            ).alias("gap_ppm"),
        )
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance per group — the
    distribution-drift test (did this metric's shape change between
    two cohorts/windows) complementing the binned PSI signal
    (event_value_drift_psi): KS is binning-free, ``D = max_v |F1(v) −
    F2(v)|`` over the empirical CDFs.

    ``side_col`` must be 0/1 (the two samples); ``value_col`` must be
    integral (the gini fail-fast precedent — callers quantize floats
    explicitly). Both ECDFs collapse onto ONE (group, value) histogram
    with per-side counts (map-side combine), cumulate over the
    group-partitioned value-bounded frame (the group-histogram
    stance — never a corpus sort), and the distance at each step is
    the EXACT integer rational ``(1e6·|c1cum·n2 − c2cum·n1|) div
    (n1·n2)`` — cross-multiplied, so no float ECDF subtraction; the
    scaled numerator rides decimal(38,0) (corpus² · 1e6 overflows
    int64). Returns ``(group, n1, n2, ks_ppm)``; a group missing
    either side releases NULL ks_ppm (no distance is defined).
    """
    t = dict(df.dtypes).get(value_col)
    if t not in _INTEGRAL:
        raise TypeError(
            f"ks_drift: column {value_col!r} has type {t}; quantize to "
            "an integral type first (double->bigint casts round in "
            "DuckDB but truncate in Spark)"
        )
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("v"),
        )
        .agg(
            F.sum(
                F.when(F.col(side_col) == 0, 1).otherwise(0)
            ).cast("long").alias("c1"),
            F.sum(
                F.when(F.col(side_col) == 1, 1).otherwise(0)
            ).cast("long").alias("c2"),
        )
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = hist.select(
        "grp",
        F.sum("c1").over(w_cum).cast("long").alias("c1cum"),
        F.sum("c2").over(w_cum).cast("long").alias("c2cum"),
        F.sum("c1").over(w_all).cast("long").alias("n1"),
        F.sum("c2").over(w_all).cast("long").alias("n2"),
    )
    d = F.expr(
        "abs(cast(c1cum as decimal(38,0)) * n2"
        " - cast(c2cum as decimal(38,0)) * n1) * 1000000"
        " div (cast(n1 as decimal(38,0)) * n2)"
    )
    return (
        stepped.withColumn(
            "_d",
            F.when((F.col("n1") > 0) & (F.col("n2") > 0), d),
        )
        .groupBy("grp")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max("_d").cast("long").alias("ks_ppm"),
        )
    )


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact Spearman rank correlation per group — the monotone-
    association signal between two metrics (does quality track length,
    does price track quantity) that Pearson misses under nonlinearity
    and outliers, computed WITHOUT a corpus sort.

    Ranks use the tie-average convention via the histogram trick: a
    value with count ``c`` and ``f`` strictly-smaller rows has average
    rank ``f + (c+1)/2``, so its DOUBLED rank ``2f + c + 1`` is an
    exact integer (the gini stance — no /2). Spearman = Pearson over
    the doubled ranks (scaling both variables by 2 leaves r
    unchanged). Plan: one (group, value) histogram + partitioned
    running sum PER VARIABLE (bounded frames, the
    group_quantiles_exact stance), two hash joins back to the row
    frame (histogram-sized build sides), then ONE aggregate of the
    five moment sums in decimal(38,0) — exact for any n ≤ ~1.3e12
    (Σ(2n)² bound). The final
    ``r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy − Sy²))``
    combines those exact integers in doubles (identical casts and IEEE
    sqrt in both engines) and releases ``floor(r·1e6)`` BIGINT next to
    the exact ``n`` witness; zero variance on either side releases
    NULL.

    ``x_col``/``y_col`` must be integral (the established fail-fast:
    DuckDB rounds double→bigint casts, Spark truncates); rows with a
    NULL in either column are excluded (pairwise-complete).
    """
    for c in (x_col, y_col):
        t = dict(df.dtypes).get(c)
        if t not in _INTEGRAL:
            raise TypeError(
                f"spearman_corr: column {c!r} has type {t}; floor() to "
                "an integral type first (double->bigint casts round in "
                "DuckDB but truncate in Spark)"
            )
    rows = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    )

    def ranks(col: str, out: str):
        hist = rows.groupBy("grp", col).agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
        w = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return hist.select(
            "grp",
            col,
            (
                F.lit(2) * F.coalesce(F.sum("_c").over(w), F.lit(0))
                + F.col("_c")
                + F.lit(1)
            )
            .cast("long")
            .alias(out),
        )

    ranked = rows.join(ranks("x", "rx"), ["grp", "x"]).join(
        ranks("y", "ry"), ["grp", "y"]
    )
    d19 = "decimal(19,0)"
    mx = F.col("rx").cast(d19)
    my = F.col("ry").cast(d19)
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(mx).cast("decimal(38,0)").alias("_sx"),
        F.sum(my).cast("decimal(38,0)").alias("_sy"),
        F.sum(mx * mx).cast("decimal(38,0)").alias("_sxx"),
        F.sum(my * my).cast("decimal(38,0)").alias("_syy"),
        F.sum(mx * my).cast("decimal(38,0)").alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    vx = nd * F.col("_sxx").cast("double") - sx * sx
    vy = nd * F.col("_syy").cast("double") - sy * sy
    cov = nd * F.col("_sxy").cast("double") - sx * sy
    return agg.select(
        "grp",
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            F.floor(cov / F.sqrt(vx * vy) * 1000000),
        )
        .cast("bigint")
        .alias("spearman_e6"),
    )
