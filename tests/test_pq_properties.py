"""Property tests for the product-quantization tier: the fixed-seed units
in test_similarity.py pin one corpus shape; these pin the CONTRACTS over
arbitrary integer-grid vectors —

* pq_fit ≡ kmeans_fit_model run independently per contiguous subspace
  slice (same seeding / tie / empty-cell semantics), and
* pq_adc_topk ≡ the brute-force python ADC ranking over pq_encode's own
  codes (dot-fold order mirrored, self excluded, ties by id) — so the
  Arrow numpy encode and the LUT join can never drift from the spec.

Vectors are small-integer grids: argmax/rank decisions are then exact in
every engine, so the properties test SEMANTICS, not float luck. Example
counts are small because every example runs real Spark jobs (the
test_masking_properties precedent)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

# id -> 8-dim integer vector; ≥6 rows so k=3 codebooks always seed.
_vec_rows = st.dictionaries(
    st.integers(min_value=0, max_value=30),
    st.lists(
        st.integers(min_value=-4, max_value=4), min_size=8, max_size=8
    ).filter(lambda v: any(x != 0 for x in v)),
    min_size=6,
    max_size=14,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows.items()],
        "vec_id long, embedding array<double>",
    )


@given(_vec_rows)
@settings(max_examples=6, deadline=None)
def test_pq_fit_is_per_subspace_kmeans(spark, rows):
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        kmeans_fit_model,
        pq_fit,
    )

    df = _df(spark, rows)
    got = pq_fit(df, m=2, dim=8, k=3, iters=2, fit_sample_n=None)
    for j in range(2):
        sub = df.select(
            "vec_id", F.slice("embedding", j * 4 + 1, 4).alias("embedding")
        )
        assert got[j] == kmeans_fit_model(
            sub, 3, iters=2, fit_sample_n=None
        ), f"subspace {j}"


@given(_vec_rows, st.integers(min_value=1, max_value=5))
@settings(max_examples=6, deadline=None)
def test_pq_adc_topk_matches_bruteforce(spark, rows, k):
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    df = _df(spark, rows)
    models = pq_fit(df, m=2, dim=8, k=3, iters=1, fit_sample_n=None)
    qids = sorted(rows)[:2]
    queries = df.filter(df.vec_id.isin(qids)).select(
        df.vec_id.alias("query_id"), "embedding"
    )
    got = {}
    for r in pq_adc_topk(df, queries, models, k=k).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    codes = {
        r["vec_id"]: (r["code_0"], r["code_1"])
        for r in pq_encode(df, models).collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    for qid in qids:
        q = [float(x) for x in rows[qid]]
        scored = []
        for vid, v in rows.items():
            if vid == qid:
                continue
            c0, c1 = codes[vid]
            s = dot(q[0:4], models[0][c0]) + dot(q[4:8], models[1][c1])
            scored.append((-s, vid))
        scored.sort()
        expect = [(rk + 1, vid) for rk, (_, vid) in enumerate(scored[:k])]
        assert sorted(got.get(qid, [])) == expect, qid


# Arbitrary unicode-ish text including the normalizer's edge classes
# (punctuation runs, digits, case, whitespace, empty/None).
_texts = st.dictionaries(
    st.integers(min_value=0, max_value=20),
    st.one_of(
        st.none(),
        st.text(
            alphabet="abzAB019 .,!-é中",
            max_size=40,
        ),
    ),
    min_size=1,
    max_size=8,
)


@given(_texts, st.sampled_from([4, 16]))
@settings(max_examples=6, deadline=None)
def test_hashing_embed_matches_reference(spark, rows, dim):
    """hashing_embed ≡ the python replay of normalize→tokenize→salted
    md5 bucket/sign→integer weights→densify, over arbitrary text
    including NULLs, empties, unicode, and punctuation runs."""
    import hashlib
    import re

    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        hashing_embed,
    )

    df = spark.createDataFrame(
        list(rows.items()), "doc_id long, text string"
    )

    def ref(text):
        vec, n = [0] * dim, 0
        norm = re.sub(r"[^a-z0-9]+", " ", (text or "").lower()).strip()
        for w in norm.split():
            h = hashlib.md5(f"hembed:{w}".encode()).hexdigest()
            vec[int(h[:5], 16) % dim] += 1 if int(h[5], 16) % 2 == 0 else -1
            n += 1
        return [float(x) for x in vec], n

    got = {
        r["doc_id"]: (list(r["embedding"]), r["n_tokens"])
        for r in hashing_embed(df, dim=dim).collect()
    }
    assert set(got) == set(rows)
    for i, text in rows.items():
        assert got[i] == ref(text), (i, text)


# ---------------------------------------------------------------------------
# Residual tier (r10, Jégou §5.1 / FAISS IndexIVFPQ): coarse model as an
# explicit 2-cell integer literal so cell routing, residual subtraction,
# and the L2 argmin are all replayable in pure python over the same grid.
# iters=0 keeps codebooks AT their (integer-valued residual) seeds, so
# every dot/distance below is exact in doubles and ties are semantic,
# not float luck.
_COARSE2 = [
    [2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.0],
]


def _py_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _py_cell(v, coarse):
    import math

    vn = math.sqrt(_py_dot(v, v))
    best, best_c = None, None
    for ci, c in enumerate(coarse):
        cn = math.sqrt(_py_dot(c, c))
        cos = _py_dot(v, c) / (vn * cn)
        if best is None or cos > best:
            best, best_c = cos, ci  # strict >: first max = lowest id
    return best_c


def _py_residual_codes(rows, models, coarse):
    codes = {}
    for vid, v in rows.items():
        cell = _py_cell(v, coarse)
        r = [x - c for x, c in zip(v, coarse[cell])]
        per = []
        for j, cb in enumerate(models):
            d = len(cb[0])
            s = r[j * d : (j + 1) * d]
            best, best_c = None, None
            for ci, c in enumerate(cb):
                # mirror pq_assign's expansion: c·c − 2 s·c (s·s constant)
                d2 = _py_dot(c, c) - 2.0 * _py_dot(s, c)
                if best is None or d2 < best:
                    best, best_c = d2, ci  # strict <: first min
            per.append(best_c)
        codes[vid] = (cell, tuple(per))
    return codes


@given(_vec_rows)
@settings(max_examples=6, deadline=None)
def test_pq_assign_residual_matches_reference(spark, rows):
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        pq_assign,
        pq_fit,
    )

    df = _df(spark, rows)
    models = pq_fit(
        df, m=2, dim=8, k=3, iters=0, fit_sample_n=None, coarse=_COARSE2
    )
    got = {
        r["vec_id"]: (r["cell"], (r["code_0"], r["code_1"]))
        for r in pq_assign(
            df,
            models,
            id_col="vec_id",
            vec_col="embedding",
            coarse=_COARSE2,
            residual=True,
        ).collect()
    }
    expect = {
        vid: (cell, per)
        for vid, (cell, per) in _py_residual_codes(
            {i: [float(x) for x in v] for i, v in rows.items()},
            models,
            _COARSE2,
        ).items()
    }
    assert got == expect


@given(_vec_rows, st.integers(min_value=1, max_value=5))
@settings(max_examples=6, deadline=None)
def test_ivf_pq_residual_matches_bruteforce(spark, rows, k):
    """nprobe = nlist (no cell pruning) residual IVFADC vs the pure-python
    replay: score = dot(q, c_cell) + Σ_j dot(q_j, cb_j[code_j]), desc,
    ties by id — the coarse term MUST be in the score (it ranks across
    cells) and the codes must be the residual ones."""
    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        ivf_pq_topk,
        pq_fit,
    )

    df = _df(spark, rows)
    models = pq_fit(
        df, m=2, dim=8, k=3, iters=0, fit_sample_n=None, coarse=_COARSE2
    )
    pyrows = {i: [float(x) for x in v] for i, v in rows.items()}
    codes = _py_residual_codes(pyrows, models, _COARSE2)
    qids = sorted(rows)[:2]
    queries = df.filter(df.vec_id.isin(qids)).select(
        df.vec_id.alias("query_id"), "embedding"
    )
    got = {}
    for r in ivf_pq_topk(
        df,
        queries,
        models,
        k=k,
        nlist=2,
        nprobe=2,
        coarse=_COARSE2,
        residual=True,
    ).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid in qids:
        q = pyrows[qid]
        scored = []
        for vid, v in pyrows.items():
            if vid == qid:
                continue
            cell, (c0, c1) = codes[vid]
            s = (
                _py_dot(q, _COARSE2[cell])
                + _py_dot(q[0:4], models[0][c0])
                + _py_dot(q[4:8], models[1][c1])
            )
            scored.append((-s, vid))
        scored.sort()
        expect = [(rk + 1, vid) for rk, (_, vid) in enumerate(scored[:k])]
        assert sorted(got.get(qid, [])) == expect, qid


def test_pq_assign_residual_requires_coarse(spark):
    import pytest

    from dbt_gdpr_anonymizer_spark.operators.similarity import pq_assign

    df = _df(spark, {0: [1] * 8, 1: [2] * 8})
    with pytest.raises(ValueError, match="residual=True requires"):
        pq_assign(
            df, [[[1.0] * 4] * 3] * 2, id_col="vec_id",
            vec_col="embedding", residual=True,
        )


def test_residual_lloyd_seeding_does_not_collapse():
    """Regression for the r10 seeding pathology: the first corpus rows ARE
    the coarse seeds, so their residuals are ~0 — first-k seeding put
    every centroid at the origin and the fit collapsed to one effective
    code. Evenly-spaced seeding must yield k distinct centroids on data
    with k distinct residual clusters."""
    import numpy as np

    from dbt_gdpr_anonymizer_spark.operators.similarity import _lloyd_l2_np

    # first 2 rows are zero residuals (the coarse-seed rows), the rest
    # split into two tight clusters
    x = np.array(
        [[0.0, 0.0], [0.0, 0.0]]
        + [[5.0 + 0.1 * i, 0.0] for i in range(5)]
        + [[0.0, -5.0 - 0.1 * i] for i in range(5)],
    )
    cents = _lloyd_l2_np(x, 3, 3)
    uniq = {tuple(np.round(c, 6)) for c in cents}
    assert len(uniq) == 3, cents


def test_spherical_lloyd_zero_norm_seed_captures_nothing():
    """A zero-norm seed has no cosine with anything: it must not win a
    row from a nonzero centroid (a NaN cosine made argmax pick it for
    every row), and a zero-norm row falls to cell 0 (first max)."""
    import warnings

    import numpy as np

    from dbt_gdpr_anonymizer_spark.operators.similarity import (
        _lloyd_spherical_np,
    )

    x = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.9, 0.1]])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cents = _lloyd_spherical_np(x, 2, 1)
    # cell 0 holds only the zero row, whose mean has no direction, so
    # the seed stays; cell 1 takes the three nonzero rows
    m = x[1:].mean(axis=0)
    np.testing.assert_array_equal(cents[0], [0.0, 0.0])
    np.testing.assert_allclose(cents[1], m / np.linalg.norm(m))


def test_ivf_pq_residual_requires_coarse(spark):
    """residual=True without the fitted coarse model must raise (the
    pq_assign guard, mirrored): silently auto-seeding a DIFFERENT
    coarse model would rank garbage with no error."""
    import pytest

    from dbt_gdpr_anonymizer_spark.operators.similarity import ivf_pq_topk

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    q = df.filter("vec_id < 2").select(
        df.vec_id.alias("query_id"), "embedding"
    )
    models = [[[1.0], [2.0]], [[1.0], [2.0]]]
    with pytest.raises(ValueError, match="residual=True requires"):
        ivf_pq_topk(df, q, models, k=2, nlist=2, nprobe=1, residual=True)
