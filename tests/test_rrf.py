"""Reciprocal-rank fusion (operators/similarity.rrf_fuse)."""

from __future__ import annotations

import pytest

from dbt_gdpr_anonymizer_spark.operators.similarity import rrf_fuse


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, rank int")


def test_matches_hand_computation(spark):
    a = _mk(spark, [(1, 1), (2, 2), (3, 3)])
    b = _mk(spark, [(2, 1), (1, 2), (4, 3)])
    got = {
        r.doc_id: r for r in rrf_fuse({"a": a, "b": b}, k=60).collect()
    }
    s = 1000000
    assert got[1].rrf_pm == s // 61 + s // 62
    assert got[2].rrf_pm == s // 62 + s // 61
    assert got[3].rrf_pm == s // 63
    assert got[4].rrf_pm == s // 63
    assert got[1].n_lists == 2 and got[3].n_lists == 1
    assert got[1].rank_a == 1 and got[1].rank_b == 2
    assert got[3].rank_b is None


def _ranked(fused):
    """Collected rows in rank order: rrf_pm desc, doc_id tiebreak."""
    return sorted(fused.collect(), key=lambda r: (-r.rrf_pm, r.doc_id))


def test_order_is_rrf_desc_then_id(spark):
    a = _mk(spark, [(9, 1), (5, 2)])
    b = _mk(spark, [(5, 1), (9, 2)])  # symmetric -> tie broken by id
    rows = _ranked(rrf_fuse({"a": a, "b": b}))
    assert [r.doc_id for r in rows] == [5, 9]
    assert rows[0].rrf_pm == rows[1].rrf_pm


def test_single_list_passthrough_ranks(spark):
    a = _mk(spark, [(7, 1), (8, 2)])
    rows = _ranked(rrf_fuse({"only": a}))
    assert [r.doc_id for r in rows] == [7, 8]
    assert rows[0].rrf_pm == 1000000 // 61


def test_empty_rankings_rejected(spark):
    with pytest.raises(ValueError):
        rrf_fuse({})


def test_integer_scale_parameter(spark):
    a = _mk(spark, [(1, 1)])
    row = rrf_fuse({"a": a}, k=0, scale=100).collect()[0]
    assert row.rrf_pm == 100  # 100 div (0 + 1)


def test_duplicate_ids_reduce_to_best_rank(spark):
    # A ranking frame violating the one-row-per-id contract must not
    # double-count: the id fuses once, at its best (min) rank, and
    # n_lists stays bounded by the number of rankings (r10 ADVICE).
    a = _mk(spark, [(1, 3), (1, 1), (2, 2)])
    b = _mk(spark, [(1, 4)])
    got = {r.doc_id: r for r in rrf_fuse({"a": a, "b": b}, k=60).collect()}
    s = 1000000
    assert got[1].n_lists == 2
    assert got[1].rank_a == 1 and got[1].rank_b == 4
    assert got[1].rrf_pm == s // 61 + s // 64


def test_unsafe_ranking_name_rejected(spark):
    a = _mk(spark, [(1, 1)])
    with pytest.raises(ValueError, match="identifier-safe"):
        rrf_fuse({"bad name; drop": a})
