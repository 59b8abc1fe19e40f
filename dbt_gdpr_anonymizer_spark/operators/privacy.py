"""Privacy risk metrics beyond k-anonymity: l-diversity, t-closeness, and
differentially-private noisy counts.

The reference stops at k-anonymity group sizes
(validate_anonymization.py:229-243); re-identification literature pairs that
with l-diversity (Machanavajjhala et al., ICDE 2006) and t-closeness
(Li/Li/Venkatasubramanian, ICDE 2007), and release pipelines add calibrated
noise (the geometric mechanism of Ghosh/Roughgarden/Sundararajan, STOC 2009).
All three are implemented as declarative aggregation plans:

* one hash shuffle on the quasi-identifier key, map-side partial aggregation;
* t-closeness avoids float summation entirely (exact integer/decimal
  arithmetic until one final division) so results are bit-identical across
  engines and partitionings;
* the DP noise is a DETERMINISTIC function of the group key + salt (inverse
  CDF over an md5-derived 52-bit uniform), so a release is reproducible and
  the whole plan stays inside whole-stage codegen — no RNG, no UDF.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "l_diversity_violations",
    "t_closeness_report",
    "t_closeness_numerators",
    "dp_noisy_counts",
    "dp_noisy_sum",
    "geometric_noise_thresholds",
    "generalize_to_k",
    "microaggregate",
    "dp_quantile",
    "mondrian_partition",
]


def l_diversity_violations(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Quasi-identifier groups whose sensitive attribute takes fewer than
    ``l`` distinct values (distinct l-diversity).

    A group can satisfy k-anonymity (size ≥ k) and still leak: if every
    member shares one sensitive value, membership reveals it. Plan shape:
    Spark rewrites ``count_distinct`` per group into a two-phase
    partial-distinct aggregation (expand + two hash aggregates), so the
    only full shuffle is on the QI key — same scale profile as the
    k-anonymity scan it complements.
    """
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count_distinct(F.col(sensitive_col)).alias("distinct_sensitive"))
        .filter(F.col("distinct_sensitive") < l)
    )


def t_closeness_report(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col: str,
) -> DataFrame:
    """Per-QI-group total-variation distance between the group's sensitive
    distribution and the corpus-wide one (t-closeness, categorical case).

    TVD(g) = ½ Σ_s |n_gs/n_g − n_s/N|. Summing doubles is partition-order
    dependent, so the plan keeps everything rational until the end:

        |n_gs/n_g − n_s/N| = |n_gs·N − n_s·n_g| / (n_g·N)

    The numerators are integers; they are summed as decimal(38,0) (exact,
    order-independent, overflow-safe past 1e18 — n_gs·N reaches ~1e22 at
    corpus scale), and the report is released as ``t_distance_ppm``: the
    TVD in parts-per-million, ``_num·500000 div (n_g·N)`` — integral
    decimal division, a BIGINT, zero floating point anywhere in the
    compared output so every engine/version produces the identical bits
    (the round-3 driver canonicalizer diverged on a double→decimal(18,6)
    tie; integers cannot tie). Sensitive values ABSENT from
    a group still contribute n_s/N, so the plan builds the full
    group × sensitive-value grid: both factors are post-aggregation tables
    (bounded by key cardinality, not data volume), and the 1-row corpus
    total rides a broadcast cross join — the same bounded-side pattern as
    the tf-idf corpus stats.
    """
    return (
        _t_closeness_grid_agg(df, quasi_identifiers, sensitive_col)
        .select(
            *quasi_identifiers,
            F.col("_n_g").alias("group_size"),
            # ppm = ½·1e6·_num/(n_g·N) = _num·500000 div (n_g·N): integral
            # decimal division (Spark IntegralDivide on DECIMAL → BIGINT),
            # exact and bit-identical across engines — no float step at all
            F.expr(
                "CAST((_num * 500000) div "
                "(CAST(_n_g AS DECIMAL(38,0)) * CAST(_N AS DECIMAL(38,0))) "
                "AS BIGINT)"
            ).alias("t_distance_ppm"),
        )
    )


def _t_closeness_grid_agg(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col: str,
) -> DataFrame:
    """Shared core of the t-closeness plan: the group × sensitive-value
    grid with the exact integer numerator aggregated per group. Returns
    one row per QI group with ``_num`` (Σ_s |n_gs·N − n_s·n_g|, exact
    decimal(38,0)), ``_n_g`` and ``_N`` (longs) — everything upstream of
    the final integral division, so the report and the diagnostic
    numerator release cannot drift apart."""
    qis = [F.col(c) for c in quasi_identifiers]
    base = df.select(*qis, F.col(sensitive_col).alias("_s"))
    cell = base.groupBy(*quasi_identifiers, "_s").agg(
        F.count(F.lit(1)).alias("_n_gs")
    )
    g_tot = cell.groupBy(*quasi_identifiers).agg(F.sum("_n_gs").alias("_n_g"))
    s_tot = cell.groupBy("_s").agg(F.sum("_n_gs").alias("_n_s"))
    total = s_tot.agg(F.sum("_n_s").alias("_N"))

    grid = (
        g_tot.join(F.broadcast(s_tot), how="cross")
        .join(F.broadcast(total), how="cross")
        .join(cell, [*quasi_identifiers, "_s"], "left")
        .withColumn("_n_gs", F.coalesce("_n_gs", F.lit(0)))
    )
    term = F.abs(
        F.col("_n_gs").cast("decimal(38,0)") * F.col("_N")
        - F.col("_n_s").cast("decimal(38,0)") * F.col("_n_g")
    )
    return grid.groupBy(*quasi_identifiers, "_n_g", "_N").agg(
        F.sum(term).alias("_num")
    )


def t_closeness_numerators(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col: str,
) -> DataFrame:
    """Diagnostic twin of :func:`t_closeness_report`: the exact integers
    one step BEFORE the integral division — ``num_abs`` (Σ_s |n_gs·N −
    n_s·n_g|), ``n_g`` and ``n_total`` — released as plain BIGINTs.

    Exists to bisect a cross-engine divergence with driver evidence: if
    this query hash-matches while the report does not, the diverging step
    is the division/release; if this one diverges too, the counting grid
    itself differs. (Round-4 forensics: the report's red row was the
    UNCAST ``sum`` → DuckDB HUGEINT ``group_size`` column degrading to
    float64 in the driver's pandas fetch, not a value difference.)"""
    return (
        _t_closeness_grid_agg(df, quasi_identifiers, sensitive_col)
        .select(
            *quasi_identifiers,
            F.col("_num").cast("long").alias("num_abs"),
            F.col("_n_g").cast("long").alias("n_g"),
            F.col("_N").cast("long").alias("n_total"),
        )
    )


def geometric_noise_thresholds(epsilon: float, bound: int) -> list[int]:
    """Inverse-CDF thresholds for the truncated two-sided geometric
    (discrete Laplace) distribution, as integers on the 52-bit lattice.

    P(k) ∝ exp(−ε|k|) for k in [−bound, bound], the truncated tail mass
    folded into the extremes (the bounded geometric mechanism; truncation
    keeps the noise range — and therefore the released value's distortion —
    finite). Returns the 2·bound cumulative cut points T_k = ⌈P(noise ≤ k)
    · 2^52⌉ for k = −bound … bound−1; a uniform 52-bit integer h maps to

        noise(h) = −bound + #{T : h ≥ T}

    Everything downstream compares integers against these literals —
    bit-identical in any engine, no floating point at query time.
    """
    a = math.exp(-epsilon)
    p0 = (1.0 - a) / (1.0 + a)
    probs = [p0 * a ** abs(k) for k in range(-bound, bound + 1)]
    tail = (1.0 - sum(probs)) / 2.0
    probs[0] += tail
    probs[-1] += tail
    out: list[int] = []
    cum = 0.0
    for p in probs[:-1]:
        cum += p
        out.append(math.ceil(cum * (1 << 52)))
    return out


def uniform52(key: Column) -> Column:
    """Deterministic uniform 52-bit integer from a string key: the first 13
    hex digits of md5, parsed JVM-side (``conv``) — one call, codegen."""
    return F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("bigint")


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    *,
    epsilon: float = 1.0,
    bound: int = 8,
    salt: str = "dp_salt",
) -> DataFrame:
    """Differentially-private group counts via the (truncated) geometric
    mechanism — counts have sensitivity 1, so noise ~ DiscreteLaplace(ε).

    The noise is pseudo-random but DETERMINISTIC: each group's 52-bit
    uniform comes from md5(group key ‖ salt), mapped through the inverse
    CDF as a ladder of integer comparisons (no RNG state, no UDF, plan
    stays in whole-stage codegen, releases are reproducible). Floor at 0:
    a count release below zero only leaks that the true count is small
    (post-processing preserves DP). One hash shuffle on the group key;
    the ladder is O(bound) integer compares per GROUP, not per row.
    """
    thresholds = geometric_noise_thresholds(epsilon, bound)
    # unit separator between key parts: ("ab","c") and ("a","bc") must not
    # collide into one noise draw (the oracle mirrors this via chr(31))
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in group_cols], F.lit(salt))
    h = uniform52(key)
    noise = F.lit(-bound)
    for t in thresholds:
        noise = noise + F.when(h >= F.lit(t), 1).otherwise(0)
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            *group_cols,
            F.greatest(F.lit(0).cast("bigint"), (F.col("_n") + noise).cast("bigint")).alias(
                "noisy_count"
            ),
        )
    )


def generalize_to_k(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int,
    widths: Sequence[int] = (10, 100, 1000, 10000),
) -> DataFrame:
    """ENFORCE k-anonymity by global recoding: coarsen ``value_col`` into
    the FINEST band width whose every (group, band) cell holds ≥ k rows,
    falling back to full suppression ('*') when no ladder level suffices.
    The reference stops at reporting k-anonymity violations
    (validate_anonymization.py:216-251); this is the remediation step —
    the Samarati/Sweeney single-attribute generalization lattice walked
    bottom-up.

    One pass evaluates EVERY ladder level via GROUPING SETS (Catalyst
    expands the sets map-side — one shuffle for all levels, not one scan
    per level), the per-level minimum cell sizes aggregate to
    ``len(widths)`` rows, and only that bounded vector crosses the driver
    to pick the level (the k-means model-state precedent). Output: one
    row per surviving cell with its band label, size, and the chosen
    level — deterministic: identical integers → identical choice in any
    engine.

    Single-scan contract: the grouping-sets aggregate is PERSISTED across
    the level-pick collect, and the chosen level's cells are derived from
    that cached aggregate (filter on its grouping flag), never by
    re-aggregating ``df`` — the corpus is scanned exactly once regardless
    of which level wins (the '*' fallback re-reduces the level-0 cells,
    a table bounded by cell cardinality, not data volume).
    """
    bands = [
        F.floor(F.col(value_col) / F.lit(float(w))).cast("long").alias(f"_b{i}")
        for i, w in enumerate(widths)
    ]
    with_bands = df.select(F.col(group_col), *bands)
    sets = [[group_col, f"_b{i}"] for i in range(len(widths))]
    grouped = persist(with_bands.groupingSets(
        sets, group_col, *[F.col(f"_b{i}") for i in range(len(widths))]
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        # grouping() flags must be computed INSIDE the grouping-sets agg
        *[
            F.grouping(f"_b{i}").alias(f"_g{i}")
            for i in range(len(widths))
        ],
    ))
    # level id from the grouping flags: row belongs to level i iff _bi is
    # the (single) non-aggregated band column in its grouping set
    level_of = None
    for i in range(len(widths)):
        cond = F.col(f"_g{i}") == 0
        level_of = F.when(cond, i) if level_of is None else level_of.when(cond, i)
    mins = (
        grouped.select(level_of.alias("_lvl"), "_n")
        .groupBy("_lvl")
        .agg(F.min("_n").alias("_m"))
        .collect()
    )
    min_by_level = {int(r["_lvl"]): int(r["_m"]) for r in mins}
    chosen = next(
        (
            i
            for i in range(len(widths))
            if min_by_level.get(i, 0) >= k
        ),
        len(widths),
    )
    if chosen == len(widths):
        # '*' fallback: per-group totals = sum of the (cached) level-0
        # cells — a re-reduce over the aggregate table, not a corpus scan
        out = (
            grouped.filter(F.col("_g0") == 0)
            .groupBy(group_col)
            .agg(F.sum("_n").alias("n"))
            .select(
                F.col(group_col),
                F.lit("*").alias("band_label"),
                F.col("n").cast("long").alias("n"),
            )
        )
    else:
        w = widths[chosen]
        # the chosen level's cells already exist in the cached aggregate:
        # its rows are exactly those whose grouping flag for _b{chosen}
        # is 0 (that band column was grouped, all others aggregated away)
        out = grouped.filter(F.col(f"_g{chosen}") == 0).select(
            F.col(group_col),
            F.concat(
                F.lit(f"{w}:"), F.col(f"_b{chosen}").cast("string")
            ).alias("band_label"),
            F.col("_n").cast("long").alias("n"),
        )
    return out.withColumn("level", F.lit(chosen).cast("long"))


def dp_noisy_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    user_col: str,
    value_col: str,
    *,
    clip: int,
    epsilon: float = 1.0,
    bound: int = 8,
    salt: str = "dp_sum_salt",
) -> DataFrame:
    """Differentially-private group SUMS via per-user contribution clipping
    + the clip-granular geometric mechanism (the SUM counterpart of
    :func:`dp_noisy_counts`).

    Sums have unbounded sensitivity until contributions are bounded: each
    user's total within a group is first clipped to ``clip`` integer
    units, making the per-user sensitivity exactly ``clip``. Noise is then
    DiscreteLaplace(ε) drawn on the clip-granular lattice — ``k · clip``
    with k from the same deterministic inverse-CDF ladder as the counts
    mechanism (one md5-derived 52-bit uniform per group, integer
    comparisons only, whole-stage codegen, reproducible releases). This
    is the discretized Laplace with granularity = sensitivity; the
    coarser lattice trades release precision (±bound·clip worst case) for
    an all-integer plan with a fixed ladder size.

    Floor at 0 is DP post-processing. Two shuffles, both partial-agg:
    (group, user) for the clip, then group for the sum — the per-user
    aggregate is the one that matters at scale and it collapses map-side.
    """
    thresholds = geometric_noise_thresholds(epsilon, bound)
    per_user = (
        df.groupBy(*group_cols, user_col)
        .agg(F.sum(F.col(value_col)).alias("_v"))
        .select(
            *group_cols,
            F.least(F.col("_v"), F.lit(clip).cast("long")).alias("_c"),
        )
    )
    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in group_cols], F.lit(salt)
    )
    h = uniform52(key)
    noise = F.lit(-bound)
    for t in thresholds:
        noise = noise + F.when(h >= F.lit(t), 1).otherwise(0)
    return (
        per_user.groupBy(*group_cols)
        .agg(F.sum("_c").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            *group_cols,
            F.greatest(
                F.lit(0).cast("bigint"),
                (F.col("_s") + noise * F.lit(clip).cast("long")).cast("bigint"),
            ).alias("noisy_sum"),
        )
    )


def microaggregate(
    df: DataFrame,
    partition_cols: Sequence[str],
    value_col: str,
    k: int,
    *,
    id_col: str,
    out_col: str = "microagg_value",
) -> DataFrame:
    """ENFORCE k-anonymity on a numeric attribute by k-member
    microaggregation (Domingo-Ferrer/Mateo-Sanz, TKDE 2002): within each
    QI partition, rows are ordered by value and grouped into blocks of
    ``k`` adjacent members (the trailing remainder merges into the last
    block, so every released block has ≥ k members); each row's value is
    replaced by its block centroid. The reference's ladder stops at
    banding/suppression (mask_coordinates round, aggregate_to_city —
    dbt_project/macros/privacy/*.sql); microaggregation is the SDC
    alternative that preserves column means within blocks. For one
    attribute, value-adjacent fixed-size blocks are the optimal
    partition, so no iterative MDAV is needed — the whole operator is
    two window functions and one derived-key window aggregate.

    ``value_col`` must be an exact integer column (cents / ppm units —
    the module's no-float rule). The centroid is released as integral
    division ``sum div n`` — both Spark ``div`` and DuckDB ``//``
    truncate toward zero, so the release is bit-identical across engines
    even for negative values. Partitions with fewer than ``k`` rows
    cannot form a k-block and are SUPPRESSED (dropped), mirroring
    k-anonymity suppression semantics.

    Scale: one hash shuffle on ``partition_cols`` + an in-partition sort;
    the block-centroid window re-uses the same partitioning (block is a
    derived sub-key, Catalyst's ClusteredDistribution check sees
    hash(partition_cols) already satisfies (partition_cols, block)), so
    no second shuffle. Skew bound: a QI partition must fit one task —
    for national-scale QI keys pre-split the QI (the salting pattern in
    operators/relational.salted_join) before calling.
    """
    from pyspark.sql import Window

    part = [F.col(c) for c in partition_cols]
    w = Window.partitionBy(*part).orderBy(F.col(value_col), F.col(id_col))
    wp = Window.partitionBy(*part)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wp)
    # trailing remainder joins the last full block: block index is capped
    # at n div k - 1 (n ≥ k guaranteed by the suppression filter below)
    block = F.least(
        ((rn - 1) / F.lit(k)).cast("long"),
        (n / F.lit(k)).cast("long") - 1,
    )
    wb = Window.partitionBy(*part, F.col("_blk"))
    blocked = (
        df.select(F.col(id_col), *part, F.col(value_col))
        .withColumn("_n", n)
        .filter(F.col("_n") >= k)
        .withColumn("_blk", block)
    )
    return (
        blocked.select(
            F.col(id_col),
            *part,
            F.col("_blk").alias("block"),
            F.count(F.lit(1)).over(wb).cast("long").alias("_bn"),
            F.sum(F.col(value_col)).over(wb).cast("long").alias("_bsum"),
        )
        .select(
            F.col(id_col),
            *part,
            "block",
            F.col("_bn").alias("n_members"),
            F.expr("_bsum div _bn").cast("long").alias(out_col),
        )
    )


def dp_quantile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    q_num: int = 1,
    q_den: int = 2,
    lo: int,
    hi: int,
    width: int,
    salt: str = "dp_salt",
    clamp_bits: int = 20,
) -> DataFrame:
    """X124 Differentially-private quantile (default: median) per group
    via the EXPONENTIAL MECHANISM over a bounded candidate grid — the
    order-statistic release the geometric-mechanism count/sum twins
    cannot produce (McSherry & Talwar 2007; the classic DP-median
    construction, utility u(c) = −|rank_≤(c) − target_rank|, Δu = 1).

    ε is FIXED at 2·ln2 ≈ 1.386 by construction: with that ε the
    mechanism's weights exp(ε·u/2) are exact POWERS OF TWO, so the whole
    release — utilities, weights (``shiftleft``), cumulative sums, and
    the inverse-CDF draw (integer cross-multiplication against a 32-bit
    md5 uniform) — is INTEGER arithmetic end to end: bit-exact across
    engines, no float exp/ln anywhere (the repo's oracle discipline).
    Utilities are clamped at −``clamp_bits`` (weight 1 past it): a
    standard truncation that caps the weight range so cum·2^32 stays in
    BIGINT; it only redistributes mass among candidates the mechanism
    was already astronomically unlikely to pick.

    Values are clamped to [lo, hi] (the DP bounded-domain assumption);
    candidates are the ``(hi−lo)/width`` upper bin edges. Plan: one
    (group, edge) count aggregate, an explode of the literal edge grid
    (no join — bounded by groups × bins), two group-keyed windows for
    the rank and weight cumsums, one argmin. Releases BIGINTs.
    """
    n_bins = (hi - lo) // width
    edge = (
        F.least(
            F.lit(hi).cast("bigint"),
            F.greatest(
                F.lit(lo + width).cast("bigint"),
                (
                    lo
                    # value cast to double FIRST: a decimal input would
                    # otherwise divide in decimal arithmetic whose
                    # rounding the oracle's double replay can't mirror
                    + width
                    * F.ceil(
                        (F.col(value_col).cast("double") - lo)
                        / F.lit(width)
                    ).cast("bigint")
                ),
            ),
        )
    ).alias("_edge")
    counts = (
        df.select(F.col(group_col), edge)
        .groupBy(group_col, "_edge")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    grid = (
        df.select(group_col)
        .distinct()
        .select(
            group_col,
            F.explode(
                F.sequence(
                    F.lit(lo + width).cast("bigint"),
                    F.lit(hi).cast("bigint"),
                    F.lit(width).cast("bigint"),
                )
            ).alias("_edge"),
        )
    )
    w_rank = Window.partitionBy(group_col).orderBy("_edge")
    ranked = (
        grid.join(counts, [group_col, "_edge"], "left")
        .select(
            group_col,
            "_edge",
            F.coalesce("_c", F.lit(0)).cast("bigint").alias("_c"),
        )
        .select(
            group_col,
            "_edge",
            F.sum("_c").over(w_rank).alias("_rank"),
            F.sum("_c")
            .over(Window.partitionBy(group_col))
            .alias("_n"),
        )
    )
    target = F.expr(f"_n * {q_num} div {q_den}")
    u = F.greatest(
        F.lit(-clamp_bits).cast("bigint"),
        -F.abs(F.col("_rank") - target),
    )
    # SQL shiftleft takes a column bit count (the Python builder wants a
    # literal int there)
    weighted = ranked.select(group_col, "_edge", u.alias("_u")).select(
        group_col,
        "_edge",
        F.expr(
            f"shiftleft(cast(1 as bigint), cast({clamp_bits} + _u as int))"
        ).alias("_w"),
    )
    w_cum = Window.partitionBy(group_col).orderBy("_edge")
    cum = weighted.select(
        group_col,
        "_edge",
        F.sum("_w").over(w_cum).alias("_cw"),
        F.sum("_w").over(Window.partitionBy(group_col)).alias("_tw"),
    )
    # 32-bit uniform per group: first 8 md5 hex digits (bit-exact in both
    # engines); winner = first edge whose weight cumsum crosses U/2^32 of
    # the total — integer cross-multiplication, no division
    u32 = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.col(group_col).cast("string"), F.lit(salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    pick = cum.filter(
        F.col("_cw") * F.lit(2**32).cast("bigint") > u32 * F.col("_tw")
    )
    return (
        pick.groupBy(group_col)
        .agg(F.min("_edge").cast("bigint").alias("dp_quantile_edge"))
    )


def anonymization_utility_report(
    df: DataFrame,
    qi_cols: list[str],
    *,
    k: int = 5,
) -> DataFrame:
    """X158 anonymization UTILITY / information-loss report — the other
    half of the k-anonymity tradeoff the reference's validators never
    quantify: privacy gates (X69 generalize_to_k, A1 k_anonymity) tell
    you a release is safe, this tells you what analytic utility it cost.
    Standard k-anonymization metrics over the quasi-identifier
    equivalence classes, all integer-exact:

    * ``n_rows`` / ``n_classes`` / ``avg_class_size_ppm`` — mean
      equivalence-class size (= n/#EC, released as exact integral ppm):
      the coarser the generalization, the larger the classes and the
      less discernible the individuals AND the data.
    * ``discernibility`` = Σ|EC|² (Bayardo–Agrawal DM): every row pays
      a penalty equal to its class size — the classic cost function
      k-anonymizers minimize. BIGINT (|EC| ≤ n keeps Σ|EC|² ≤ n² —
      within int64 to ~3·10^9 rows; shard past that).
    * ``suppressed_rows`` — rows in classes still below ``k`` (the mass
      a suppress-the-remainder release would delete), and
      ``under_k_classes``.

    One map-side-combined aggregate on the QI key (bounded by QI-domain
    cardinality), then a 1-row rollup — the same shape as A1's
    k-anonymity check, so the utility report is free at any scale.
    """
    cls = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("_c"))
    return cls.agg(
        F.sum("_c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.expr(
            "(cast(sum(_c) as bigint) * 1000000) div count(1)"
        )
        .cast("bigint")
        .alias("avg_class_size_ppm"),
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias(
            "discernibility"
        ),
        F.sum(F.when(F.col("_c") < k, F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("suppressed_rows"),
        F.sum(F.when(F.col("_c") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("under_k_classes"),
    )


def dp_budget_ledger(
    releases: DataFrame,
    budget_micro: int,
    *,
    dataset_col: str = "dataset",
    eps_col: str = "epsilon_micro",
    order_col: str = "seq",
) -> DataFrame:
    """X159 differential-privacy BUDGET LEDGER — the accounting layer the
    X42/X76/X124 mechanisms assume but nothing enforced: under basic
    sequential composition the epsilons of every release against a
    dataset ADD, so a curator must track the running total and refuse
    releases past the budget. Epsilons are integer MICRO-epsilons
    (1e-6 units — budget arithmetic must not float-drift any more than
    money does).

    Per dataset, releases are ordered by ``order_col`` and admitted
    while the running epsilon total stays within ``budget_micro`` —
    prefix semantics (the X144 rule): once the budget is crossed, every
    later release is refused, even one that would fit alone (admitting
    it would make admission order-dependent). Returns every ledger row
    with ``cum_eps_micro`` (BIGINT, admitted releases only — refused
    rows carry the would-be total) and ``admitted`` BOOLEAN.

    Scale: a ledger is release-metadata, not data — per-dataset windows
    over handfuls of rows. The shape still avoids any global sort
    (windows partition by dataset).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(dataset_col)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return releases.select(
        dataset_col,
        order_col,
        F.col(eps_col).cast("bigint").alias(eps_col),
        F.sum(eps_col).over(w).cast("bigint").alias("cum_eps_micro"),
    ).withColumn(
        "admitted", F.col("cum_eps_micro") <= F.lit(budget_micro)
    )


def mondrian_partition(
    df: DataFrame,
    dim_cols: Sequence[str],
    k: int,
    *,
    rounds: int = 6,
) -> DataFrame:
    """Mondrian multidimensional k-anonymity partitioning (LeFevre,
    DeWitt & Ramakrishnan, ICDE 2006) — THE canonical greedy algorithm
    behind multidimensional generalization, strictly stronger than the
    single-attribute ladder (`k_anonymity_generalize`): recursively
    split the quasi-identifier space at the median of each partition's
    widest dimension, stopping where a split would leave either side
    below ``k``. The released equivalence classes are the per-partition
    bounding boxes + counts — every class ≥ k by construction.

    Determinism contract (fully cross-engine): dims must be INTEGRAL
    (the established fail-fast); the widest dimension breaks ties in
    ``dim_cols`` order via a ``>=`` chain; the median is the exact
    inverse-ECDF value at ``ceil(n/2)`` (the group_quantiles_exact
    rank); a split happens iff BOTH sides (≤ median / > median) hold
    ≥ k rows. ``rounds`` is a FIXED unroll budget (max 2^rounds
    classes), which is what makes a non-recursive SQL oracle possible
    (the BPE unrolled-oracle precedent) — partitions that can no
    longer split pass through remaining rounds unchanged, so extra
    rounds are idempotent (and the loop exits early once no partition
    splits, which cannot change the result).

    Scale shape per round: ONE per-partition stats aggregate and ONE
    bounded (partition, chosen-value) histogram with a window over
    that frame — both DISTRIBUTED — while only the ≤ 2^rounds-row
    decision state (widest dim, median, split bit per partition)
    crosses the driver (the kmeans/BPE bounded-model-state stance) and
    returns as literal CASE chains, so the per-round plan growth is
    one projection, never a self-referencing join (a join-based round
    triples plan references and the analyzer blows up ~3^rounds — the
    pagerank-lineage lesson, found as a driver OOM at rounds=7).
    Partition ids encode the split tree (root 1; children 2p / 2p+1)
    and are released as opaque BIGINTs. NULL dims are out of contract
    — callers pre-clean.

    Returns ``(pid, n, <dim>_min, <dim>_max ...)``.
    """
    dims = list(dim_cols)
    if not dims:
        raise ValueError("mondrian_partition: dim_cols must be non-empty")
    types = dict(df.dtypes)
    for c in dims:
        if types.get(c) not in {"tinyint", "smallint", "int", "bigint"}:
            raise TypeError(
                f"mondrian_partition: column {c!r} has type "
                f"{types.get(c)}; floor() to an integral type first "
                "(double->bigint casts round in DuckDB but truncate in "
                "Spark)"
            )
    rows = df.select(
        *[F.col(c).cast("bigint").alias(c) for c in dims]
    ).withColumn("pid", F.lit(1).cast("bigint"))
    for _ in range(rounds):
        rows = persist(rows)
        stats = rows.groupBy("pid").agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            *[
                f(c).alias(f"_{nm}_{c}")
                for c in dims
                for nm, f in (("mn", F.min), ("mx", F.max))
            ],
        ).collect()
        # driver-side widest-dim choice per partition (>= chain, ties to
        # the earlier dim): bounded model state, ≤ 2^rounds rows
        chosen: dict[int, tuple[int, int]] = {}
        for r in stats:
            ranges = [r[f"_mx_{c}"] - r[f"_mn_{c}"] for c in dims]
            cd = ranges.index(max(ranges))
            if r["_n"] >= 2 * k:
                chosen[r["pid"]] = (cd, r["_n"])
        if not chosen:
            break
        vexpr = None
        for pid, (cd, _n) in chosen.items():
            w = F.when(F.col("pid") == pid, F.col(dims[cd]))
            vexpr = w if vexpr is None else vexpr.when(
                F.col("pid") == pid, F.col(dims[cd])
            )
        h = (
            rows.where(
                F.col("pid").isin([int(p) for p in chosen])
            )
            .select("pid", vexpr.alias("_v"))
            .groupBy("pid", "_v")
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        w_cum = (
            Window.partitionBy("pid")
            .orderBy("_v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy("pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        med = (
            h.select(
                "pid",
                "_v",
                F.sum("_c").over(w_cum).cast("long").alias("_cum"),
                F.sum("_c").over(w_all).cast("long").alias("_tot"),
            )
            .groupBy("pid")
            .agg(
                F.min(
                    F.when(
                        F.col("_cum") >= F.expr("(_tot + 1) div 2"),
                        F.col("_v"),
                    )
                ).alias("_med"),
                F.min(
                    F.when(
                        F.col("_cum") >= F.expr("(_tot + 1) div 2"),
                        F.col("_cum"),
                    )
                )
                .cast("long")
                .alias("_nle"),
            )
            .collect()
        )
        splits: dict[int, tuple[int, int]] = {}
        for r in med:
            cd, n = chosen[r["pid"]]
            nle = r["_nle"]
            if nle >= k and n - nle >= k:
                splits[r["pid"]] = (cd, r["_med"])
        if not splits:
            break
        pexpr = None
        for pid, (cd, m) in splits.items():
            left = (F.col("pid") == pid) & (F.col(dims[cd]) <= F.lit(m))
            right = F.col("pid") == pid
            if pexpr is None:
                pexpr = F.when(left, F.lit(2 * pid))
            else:
                pexpr = pexpr.when(left, F.lit(2 * pid))
            pexpr = pexpr.when(right, F.lit(2 * pid + 1))
        rows = rows.select(
            *dims,
            pexpr.otherwise(F.col("pid")).cast("bigint").alias("pid"),
        )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in dims:
        aggs.append(F.min(c).cast("long").alias(f"{c}_min"))
        aggs.append(F.max(c).cast("long").alias(f"{c}_max"))
    return rows.groupBy("pid").agg(*aggs)
