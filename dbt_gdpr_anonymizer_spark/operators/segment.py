"""RFM (recency / frequency / monetary) quintile segmentation.

The classic customer-base segmentation (Hughes, *Strategic Database
Marketing*, 1994): score every customer 1–5 on how recently they
ordered, how often, and how much, then report the segment grid — the
shape marketing/retention analytics ask of an orders table, and a
natural k-anonymity-style generalization of per-customer behavior
(each released row is a COUNT over a (r, f, m) cell, never an
individual).

Spark-first shape, integer-exact end to end:

* one map-side-combined groupBy builds the per-customer metric frame
  (last order date, order count, whole-unit spend);
* recency pivots on the CORPUS max date — a 1-row aggregate broadcast
  back in (the bounded 1-row-stats pattern), so "days since last
  order" is reproducible from the data alone (no wall-clock);
* quintile boundaries come from
  :func:`relational.group_quantiles_exact` over the LONG (metric,
  value) stack — the inverse-ECDF integer-rational contract, one
  bounded histogram per metric, never a percentile UDAF buffering a
  hot group;
* the 12 boundaries (3 metrics × 4 cuts) collapse to ONE broadcast
  row; scoring is a per-row CASE chain (pure codegen); the final
  groupBy releases the ≤125-row segment grid.

No reference counterpart: tabodino/dbt-gdpr-anonymizer anonymizes the
customer table (``models/marts/``) but offers no behavioral rollup;
this is the aggregate consumers actually want from the anonymized
output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["rfm_segments"]

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def rfm_segments(
    orders: DataFrame,
    cust_col: str,
    date_col: str,
    amount_col: str,
) -> DataFrame:
    """Quintile RFM segment grid over an orders-shaped frame.

    Per customer: ``r_days`` = whole days between their last order and
    the corpus max order date, ``f_cnt`` = order count, ``m_units`` =
    Σ ``amount_col``. ``amount_col`` must already be integral (the
    gini_concentration fail-fast precedent: double→bigint casts round
    in DuckDB but truncate in Spark, so callers ``floor()``
    explicitly; integer sums are also order-free, which keeps the
    metric engine-exact). Scores: for each metric the quintile
    boundaries q1..q4 are the exact inverse-ECDF quantiles at
    k/5 (``group_quantiles_exact`` contract: smallest value whose
    cumulative count reaches ``ceil(k·n/5)``); a customer scores the
    smallest k with ``value ≤ q_k``, else 5. Ties at a boundary share
    a score deterministically in both engines. Note the raw-metric
    convention: LOW r_days (recent) scores low, HIGH spend scores
    high — direction interpretation is the caller's.

    Returns ``(r_score, f_score, m_score, n_customers,
    sum_monetary)`` — every released row an aggregate over a segment
    cell, never an individual.
    """
    t = dict(orders.dtypes).get(amount_col)
    if t not in _INTEGRAL:
        raise TypeError(
            f"rfm_segments: column {amount_col!r} has type {t}; floor() "
            "to an integral type first (double->bigint casts round in "
            "DuckDB but truncate in Spark, and float sums are "
            "order-dependent)"
        )
    from dbt_gdpr_anonymizer_spark.operators.relational import (
        group_quantiles_exact,
    )

    m = orders.groupBy(F.col(cust_col).alias("cust")).agg(
        F.max(F.col(date_col)).alias("_last"),
        F.count(F.lit(1)).cast("long").alias("f_cnt"),
        F.sum(F.col(amount_col)).cast("long").alias("m_units"),
    )
    gmax = m.agg(F.max("_last").alias("_gmax"))
    mm = m.crossJoin(F.broadcast(gmax)).select(
        "cust",
        F.datediff(F.col("_gmax").cast("date"), F.col("_last").cast("date"))
        .cast("long")
        .alias("r_days"),
        "f_cnt",
        "m_units",
    )
    stacked = mm.select(
        "cust",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("r_days").alias("v"),
                ),
                F.struct(
                    F.lit("f").alias("metric"), F.col("f_cnt").alias("v")
                ),
                F.struct(
                    F.lit("m").alias("metric"), F.col("m_units").alias("v")
                ),
            )
        ).alias("_mv"),
    ).select(F.col("_mv.metric").alias("metric"), F.col("_mv.v").alias("v"))
    q = group_quantiles_exact(
        stacked, "metric", "v", [(k, 5) for k in (1, 2, 3, 4)]
    )
    boundaries = q.agg(
        *[
            F.min(
                F.when(
                    (F.col("metric") == met) & (F.col("p_num") == k),
                    F.col("q_value"),
                )
            ).alias(f"{met}q{k}")
            for met in ("r", "f", "m")
            for k in (1, 2, 3, 4)
        ]
    )

    def score(val: str, met: str) -> F.Column:
        c = F.when(F.col(val) <= F.col(f"{met}q1"), 1)
        for k in (2, 3, 4):
            c = c.when(F.col(val) <= F.col(f"{met}q{k}"), k)
        return c.otherwise(5).cast("int")

    scored = mm.crossJoin(F.broadcast(boundaries)).select(
        "m_units",
        score("r_days", "r").alias("r_score"),
        score("f_cnt", "f").alias("f_score"),
        score("m_units", "m").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m_units").cast("long").alias("sum_monetary"),
        )
    )
