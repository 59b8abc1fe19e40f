"""X129 multinomial Naive Bayes (operators/classify): hand-computed
smoothed log-odds, OOV floor, zero-token prior fallback, empty-class
guard, and the no-UDF plan contract."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
from dbt_gdpr_anonymizer_spark.operators.classify import naive_bayes_scores
from tests.conftest import persistent_rdd_ids


def _fit(spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, y boolean, is_train boolean"
    )
    return naive_bayes_scores(
        df, label=F.col("y"), train=F.col("is_train")
    )


def test_hand_computed_log_odds(spark):
    # train: doc1 pos "good great", doc2 neg "bad awful"
    # model: t_pos=t_neg=2, V=4, priors equal (ln 1/1 = 0)
    out = _fit(
        spark,
        [
            (1, "good great", True, True),
            (2, "bad awful", False, True),
            (3, "good bad unknown", True, False),
            (4, "", True, False),
        ],
    )
    rows = {r.doc_id: r for r in out.collect()}
    release_caches(out)
    ln2 = math.log(2.0)
    # doc1: good -> ln((1+1)/6)-ln((0+1)/6)=ln2, great -> ln2
    assert abs(rows[1].logodds - 2 * ln2) < 1e-12
    assert rows[1].pred_pos is True and rows[1].n_tokens == 2
    # doc3: good (+ln2) + bad (-ln2) + OOV "unknown" (ln(1/6)-ln(1/6)=0)
    assert abs(rows[3].logodds) < 1e-12
    assert rows[3].pred_pos is False and rows[3].n_tokens == 3
    # doc4: zero tokens -> exactly the (zero) prior
    assert rows[4].n_tokens == 0 and abs(rows[4].logodds) < 1e-12


def test_prior_shift_with_unbalanced_split(spark):
    # 2 pos docs vs 1 neg doc, all empty-text: score == ln(2/1) everywhere
    out = _fit(
        spark,
        [
            (1, "", True, True),
            (2, "", True, True),
            (3, "", False, True),
            (4, "", True, False),
        ],
    )
    rows = out.collect()
    release_caches(out)
    for r in rows:
        assert abs(r.logodds - math.log(2.0)) < 1e-12
        assert r.pred_pos is True


def test_empty_class_raises(spark):
    out = _fit(spark, [(1, "a", True, True), (2, "b", True, False)])
    with pytest.raises(Exception, match="no training documents"):
        out.collect()
    release_caches(out)


def test_plan_no_python_and_cache_tracked(spark):
    before = persistent_rdd_ids(spark)
    out = _fit(
        spark,
        [(1, "a b", True, True), (2, "c", False, True)],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    out.collect()
    assert persistent_rdd_ids(spark) - before, "token frame must be cached"
    release_caches(out)
    assert not persistent_rdd_ids(spark) - before
