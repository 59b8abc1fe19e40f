"""Temporal analytics over bounded period tables: exact lag
autocorrelation, dyadic-exact EWMA smoothing, and Nelson–Aalen
cumulative-hazard (survival) estimation.

The monitoring questions downstream of the existing temporal tier
(changepoint scan, KS drift, day-of-week seasonality): is the daily
series self-correlated (weekly rhythm shows as a lag-7 peak), what is
its smoothed level (the alerting baseline), and how fast do subjects
"die" (churn / convert) as a function of age.

Determinism stances (all established in this repo):

* **ACF** is Pearson at lag L over the (t, t+L) pairs of the
  day-bounded count table — five moment sums in exact
  decimal(38,0)/HUGEINT integers (the spearman_corr pattern,
  operators/profile.py:359), one fixed-shape double combination with
  IEEE sqrt, released ``floor(r·1e6)``; zero variance → NULL.
* **EWMA** with a DYADIC smoothing factor α = num/den (den a small
  integer literal) folds the scaled-integer recurrence
  ``s_t = (num·x_t·scale + (den−num)·s_{t−1}) div den`` — every step
  an exact integer division, so the whole trajectory is
  engine-reproducible (a float EWMA would compound rounding
  differently per fold order). The fold is inherently sequential PER
  GROUP but the input is a period-bounded table (days, not corpus
  rows): Spark folds each group's sorted array with ``aggregate``
  (one whole-stage span, no driver state), the oracle replays it as a
  recursive CTE. Negative intermediates are SAFE: both Spark ``div``
  and DuckDB ``//`` truncate toward zero on integers (measured:
  ``-7 div 4 = -1`` in both engines — despite DuckDB's docs calling
  ``//`` floor division), which is what lets the Holt trend term go
  negative without a parity break.
* **Nelson–Aalen** (Nelson 1972; Aalen 1978) releases the cumulative
  hazard instead of the Kaplan–Meier product: H(t) = Σ_{t_i≤t} d_i/n_i
  sums per-step integral divisions ``1e6·d_i div n_i`` — exact
  integers end to end, where KM's running product would force a float
  fold. Right-censored subjects leave the risk set without
  contributing an event — the estimator's reason to exist.

Scale shapes: every operator collapses the corpus FIRST (daily counts
/ per-subject aggregates — one map-side-combined groupBy), then runs
windows/joins over the period- or duration-bounded frame only. No
corpus sort, no unpartitioned corpus window.

No reference counterpart: tabodino/dbt-gdpr-anonymizer has no
temporal analytics; this extends the monitoring tier a production
anonymization pipeline needs (is the masked stream's volume rhythm
intact; did masking change conversion behavior).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _require_integral(df: DataFrame, col: str, op: str) -> None:
    t = dict(df.dtypes).get(col)
    if t not in _INTEGRAL:
        raise TypeError(
            f"{op}: column {col!r} has type {t}; floor() to an integral "
            "type first (double->bigint casts round in DuckDB but "
            "truncate in Spark)"
        )


def acf_lags(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    lags: Sequence[int],
) -> DataFrame:
    """Exact lag-L autocorrelation per group over an integer-indexed
    series: Pearson between x(t) and x(t+L) for every ``L`` in
    ``lags``, pairing only indices where BOTH sides exist (missing
    periods pairwise-drop; the day table usually has every day, so
    this is the contiguous ACF).

    Plan: the lag fan-out is a literal explode (|lags| copies of the
    period-bounded table, never the corpus), the alignment is one hash
    equi-join on (group, t+L), and the five moment sums ride
    decimal(38,0) — exact for any bounded-count series. The final
    Pearson combination is the spearman_corr double+IEEE-sqrt shape,
    released ``floor(r·1e6)`` next to the exact pair count; fewer than
    2 pairs or zero variance on either side releases NULL.
    """
    _require_integral(df, t_col, "acf_lags")
    _require_integral(df, x_col, "acf_lags")
    if not lags or any(int(lg) <= 0 for lg in lags):
        raise ValueError("acf_lags: lags must be positive integers")
    base = df.where(
        F.col(t_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(t_col).cast("bigint").alias("t"),
        F.col(x_col).cast("bigint").alias("x"),
    )
    a = base.withColumn(
        "lag", F.explode(F.array(*[F.lit(int(lg)) for lg in lags]))
    ).select("grp", "lag", "t", F.col("x").alias("xa"))
    b = base.select(
        F.col("grp").alias("_g"),
        F.col("t").alias("_t"),
        F.col("x").alias("xb"),
    )
    pairs = a.join(
        b,
        (F.col("grp") == F.col("_g"))
        & (F.col("_t") == F.col("t") + F.col("lag")),
    )
    d19 = "decimal(19,0)"
    mx = F.col("xa").cast(d19)
    my = F.col("xb").cast(d19)
    agg = pairs.groupBy("grp", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(mx).cast("decimal(38,0)").alias("_sx"),
        F.sum(my).cast("decimal(38,0)").alias("_sy"),
        F.sum(mx * mx).cast("decimal(38,0)").alias("_sxx"),
        F.sum(my * my).cast("decimal(38,0)").alias("_syy"),
        F.sum(mx * my).cast("decimal(38,0)").alias("_sxy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    vx = nd * F.col("_sxx").cast("double") - sx * sx
    vy = nd * F.col("_syy").cast("double") - sy * sy
    cov = nd * F.col("_sxy").cast("double") - sx * sy
    return agg.select(
        "grp",
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        F.when(
            (vx > 0) & (vy > 0),
            F.floor(cov / F.sqrt(vx * vy) * 1000000),
        )
        .cast("bigint")
        .alias("acf_e6"),
    )


def ewma_fold(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exponentially-weighted moving average per group with a DYADIC
    (small-rational) smoothing factor, folded in exact scaled
    integers: ``s_1 = x_1·scale``;
    ``s_t = (num·x_t·scale + (den−num)·s_{t−1}) div den``.

    Sequential per group by nature, but the group series is
    period-bounded: each group's (t, x) rows collapse to ONE sorted
    array (``array_sort`` on the distinct integer index) and fold via
    the ``aggregate`` HOF appending to a running struct array — no
    driver state, no corpus window; ``inline`` re-flattens. Signed
    inputs are safe — Spark ``div`` and DuckDB ``//`` both truncate
    toward zero on integers (measured; see the module docstring) —
    and ``x·scale·num`` must fit int64.
    Releases (grp, t, x, ewma_e6) with ewma at the given scale.
    """
    _require_integral(df, t_col, "ewma_fold")
    _require_integral(df, x_col, "ewma_fold")
    num, den = int(alpha_num), int(alpha_den)
    if not (0 < num < den):
        raise ValueError("ewma_fold: require 0 < alpha_num < alpha_den")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(t_col).cast("bigint").alias("t"),
        F.col(x_col).cast("bigint").alias("x"),
    )
    arr = base.groupBy("grp").agg(
        F.array_sort(F.collect_list(F.struct("t", "x"))).alias("_a")
    )
    folded = arr.select(
        "grp",
        F.expr(
            f"""
            aggregate(
              _a,
              cast(array() as array<struct<t: bigint, x: bigint,
                                           s: bigint>>),
              (acc, e) -> array_append(acc, named_struct(
                't', e.t, 'x', e.x,
                's', case when size(acc) = 0 then e.x * {scale}
                     else (e.x * {scale} * {num}
                           + {den - num} * element_at(acc, -1).s)
                          div {den} end))
            )
            """
        ).alias("_f"),
    )
    return (
        folded.select("grp", F.inline("_f"))
        .select("grp", "t", "x", F.col("s").alias("ewma_e6"))
    )


def nelson_aalen(
    df: DataFrame,
    group_col: str,
    dur_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve per group from
    right-censored durations: one input row per subject with an
    integral age ``dur_col`` (time observed) and ``event_col`` = 1 if
    the terminal event (churn, conversion) happened at that age, 0 if
    the subject was censored there (still alive when observation
    ended).

    At each distinct EVENT age t_i: d_i = events at t_i, n_i =
    subjects still at risk (dur ≥ t_i — censored subjects count until
    they leave). The hazard step releases as the exact integral
    division ``1e6·d_i div n_i`` and the curve as its running sum —
    integer-exact end to end (Kaplan–Meier's running PRODUCT would
    force a float fold; Nelson–Aalen is the sum-form estimator, and
    exp(−H) recovers S(t) downstream when needed).

    Plan: subjects collapse to the (group, dur) histogram first; the
    risk set is total − running count over the duration-bounded frame
    partitioned by group. Releases
    (grp, dur, n_at_risk, d_events, hazard_step_e6, cum_hazard_e6)
    for event ages only.
    """
    _require_integral(df, dur_col, "nelson_aalen")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(dur_col).cast("bigint").alias("dur"),
        F.col(event_col).cast("int").alias("ev"),
    ).where(F.col("dur").isNotNull() & (F.col("dur") >= 0))
    hist = base.groupBy("grp", "dur").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
    )
    w_prior = (
        Window.partitionBy("grp")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("grp")
    stepped = hist.select(
        "grp",
        "dur",
        "d",
        (
            F.sum("c").over(w_tot)
            - F.coalesce(F.sum("c").over(w_prior), F.lit(0))
        )
        .cast("long")
        .alias("n_at_risk"),
    ).where(F.col("d") > 0)
    step = F.expr("(1000000 * d) div n_at_risk")
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        stepped.select(
            "grp",
            "dur",
            "n_at_risk",
            F.col("d").alias("d_events"),
            step.cast("bigint").alias("hazard_step_e6"),
        )
        .withColumn(
            "cum_hazard_e6",
            F.sum("hazard_step_e6").over(w_cum).cast("bigint"),
        )
    )


def holt_fold(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend; Holt
    1957) with DYADIC smoothing factors, folded in exact scaled
    integers — the trend-aware extension of :func:`ewma_fold`:

      ``l_1 = x_1·scale``;  ``b_1 = 0``
      ``l_t = (αn·x_t·scale + (αd−αn)·(l_{t−1}+b_{t−1})) div αd``
      ``b_t = (βn·(l_t − l_{t−1}) + (βd−βn)·b_{t−1}) div βd``

    The trend ``b_t`` is SIGNED; integer-division parity on negatives
    holds because both engines truncate toward zero (measured — see
    the module docstring). Same scale shape as ewma_fold: one sorted
    array per group, one ``aggregate`` HOF fold, ``inline`` back to
    rows; the oracle is a recursive CTE with the identical
    recurrences. Releases (grp, t, x, level_e6, trend_e6,
    forecast_e6) where forecast is the one-step-ahead ``l_t + b_t``.
    """
    _require_integral(df, t_col, "holt_fold")
    _require_integral(df, x_col, "holt_fold")
    an, ad = int(alpha_num), int(alpha_den)
    bn, bd = int(beta_num), int(beta_den)
    if not (0 < an < ad and 0 < bn < bd):
        raise ValueError(
            "holt_fold: require 0 < alpha_num < alpha_den and "
            "0 < beta_num < beta_den"
        )
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(t_col).cast("bigint").alias("t"),
        F.col(x_col).cast("bigint").alias("x"),
    )
    arr = base.groupBy("grp").agg(
        F.array_sort(F.collect_list(F.struct("t", "x"))).alias("_a")
    )
    lnew = (
        f"(e.x * {scale} * {an} + {ad - an} * "
        "(element_at(acc, -1).l + element_at(acc, -1).b))"
        f" div {ad}"
    )
    folded = arr.select(
        "grp",
        F.expr(
            f"""
            aggregate(
              _a,
              cast(array() as array<struct<t: bigint, x: bigint,
                                           l: bigint, b: bigint>>),
              (acc, e) -> array_append(acc,
                case when size(acc) = 0
                then named_struct('t', e.t, 'x', e.x,
                                  'l', e.x * {scale},
                                  'b', cast(0 as bigint))
                else named_struct('t', e.t, 'x', e.x,
                  'l', {lnew},
                  'b', ({bn} * ({lnew} - element_at(acc, -1).l)
                        + {bd - bn} * element_at(acc, -1).b) div {bd})
                end))
            """
        ).alias("_f"),
    )
    return (
        folded.select("grp", F.inline("_f"))
        .select(
            "grp",
            "t",
            "x",
            F.col("l").alias("level_e6"),
            F.col("b").alias("trend_e6"),
            (F.col("l") + F.col("b")).cast("bigint").alias("forecast_e6"),
        )
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test + Theil–Sen slope per group
    (Mann 1945; Kendall 1975; Theil 1950; Sen 1968) — the
    distribution-free "is this series drifting" answer next to the
    changepoint scan's "when did it jump", exact where it can be:

    * ``s_stat = Σ_{i<j} sign(x_j − x_i)`` — a pure integer over the
      ordered pairs of the period-bounded series.
    * ``var18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)`` — 18·Var(S) with
      the tie correction, released as the EXACT integer witness (the
      /18 rational never materializes).
    * ``z_e6`` — the continuity-corrected normal score
      ``(S − sign(S)) / sqrt(var18/18)`` as the one fixed-shape double
      + IEEE sqrt, floored e6 (the spearman release stance); NULL when
      var18 = 0 (all values tied).
    * ``sen_slope_e6`` — the Theil–Sen median of pairwise slopes
      ``((x_j − x_i)·1e6) div (t_j − t_i)`` (exact integer slopes;
      signed div parity measured — module docstring), median as the
      LOWER inverse-ECDF rank ceil(m/2) over the slope histogram (the
      group_quantiles_exact stance — deterministic, no float median).

    Scale shape: ONE self equi-join on the group key over the
    period-bounded table builds the pair frame (fan-out |T|² per
    group, never corpus rows — collapse the corpus to period counts
    first); tie counts are a value histogram; the Sen median runs over
    the group-partitioned slope histogram. Groups with fewer than 2
    points do not release.
    """
    _require_integral(df, t_col, "mann_kendall")
    _require_integral(df, x_col, "mann_kendall")
    base = df.where(
        F.col(t_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(t_col).cast("bigint").alias("t"),
        F.col(x_col).cast("bigint").alias("x"),
    )
    a = base.select("grp", F.col("t").alias("ti"), F.col("x").alias("xi"))
    b = base.select(
        F.col("grp").alias("_g"),
        F.col("t").alias("tj"),
        F.col("x").alias("xj"),
    )
    pairs = a.join(
        b, (F.col("grp") == F.col("_g")) & (F.col("ti") < F.col("tj"))
    ).select(
        "grp",
        F.signum(F.col("xj") - F.col("xi")).cast("long").alias("sgn"),
        F.expr("((xj - xi) * 1000000) div (tj - ti)").alias("slope_e6"),
    )
    stats = pairs.groupBy("grp").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    npts = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        base.groupBy("grp", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("tc"))
        .where(F.col("tc") > 1)
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
            )
            .cast("long")
            .alias("tie18")
        )
    )
    # Sen median: lower inverse-ECDF rank ceil(m/2) over the slope
    # histogram, group-partitioned windows only
    hist = pairs.groupBy("grp", "slope_e6").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("slope_e6")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("grp")
    sen = (
        hist.select(
            "grp",
            "slope_e6",
            F.sum("c").over(w_cum).alias("_cum"),
            F.sum("c").over(w_tot).alias("_m"),
        )
        .where(F.col("_cum") >= F.expr("(_m + 1) div 2"))
        .groupBy("grp")
        .agg(F.min("slope_e6").cast("long").alias("sen_slope_e6"))
    )
    j = (
        stats.join(npts, "grp")
        .join(ties, "grp", "left")
        .join(sen, "grp")
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie18"), F.lit(0))
    ).cast("long")
    sgn_s = F.signum(F.col("s_stat")).cast("long")
    z = (
        (F.col("s_stat") - sgn_s).cast("double")
        / F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    )
    return (
        j.withColumn("var18", var18)
        .select(
            "grp",
            "n",
            "n_pairs",
            "s_stat",
            "var18",
            F.when(F.col("var18") > 0, F.floor(z * 1000000))
            .cast("bigint")
            .alias("z_e6"),
            "sen_slope_e6",
        )
    )


def cusum_fold(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
) -> DataFrame:
    """Two-sided CUSUM drift chart per group (Page 1954) in exact
    integers: deviations from the series' own mean accumulate with a
    reset-at-zero —

      ``pos_t = max(0, pos_{t−1} + n·x_t − T)``
      ``neg_t = max(0, neg_{t−1} + T − n·x_t)``

    where n = series length and T = series total, so the per-step
    deviation ``n·x_t − T`` is the mean deviation SCALED BY n — the
    mean itself (a rational) never materializes and every step is
    integer arithmetic (release columns carry the ``_nx`` suffix to
    mark the scale). The classic online "has the level shifted"
    companion to the X188 offline changepoint scan: a sustained shift
    grows one side linearly while noise keeps resetting it.

    Same shape as ewma_fold: one groupBy builds the sorted day array
    PLUS the (n, T) aggregates in a single pass; the fold lambda
    captures n and T as outer columns; ``inline`` re-flattens. The
    oracle replays the recurrences as a recursive CTE carrying n and T
    through the recursion. Releases
    (grp, t, x, cusum_pos_nx, cusum_neg_nx).
    """
    _require_integral(df, t_col, "cusum_fold")
    _require_integral(df, x_col, "cusum_fold")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(t_col).cast("bigint").alias("t"),
        F.col(x_col).cast("bigint").alias("x"),
    )
    agg = base.groupBy("grp").agg(
        F.array_sort(F.collect_list(F.struct("t", "x"))).alias("_a"),
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("x").cast("long").alias("_tot"),
    )
    folded = agg.select(
        "grp",
        F.expr(
            """
            aggregate(
              _a,
              cast(array() as array<struct<t: bigint, x: bigint,
                                           sp: bigint, sn: bigint>>),
              (acc, e) -> array_append(acc,
                case when size(acc) = 0
                then named_struct('t', e.t, 'x', e.x,
                  'sp', greatest(cast(0 as bigint), _n * e.x - _tot),
                  'sn', greatest(cast(0 as bigint), _tot - _n * e.x))
                else named_struct('t', e.t, 'x', e.x,
                  'sp', greatest(cast(0 as bigint),
                         element_at(acc, -1).sp + _n * e.x - _tot),
                  'sn', greatest(cast(0 as bigint),
                         element_at(acc, -1).sn + _tot - _n * e.x))
                end)
            )
            """
        ).alias("_f"),
    )
    return (
        folded.select("grp", F.inline("_f"))
        .select(
            "grp",
            "t",
            "x",
            F.col("sp").alias("cusum_pos_nx"),
            F.col("sn").alias("cusum_neg_nx"),
        )
    )
