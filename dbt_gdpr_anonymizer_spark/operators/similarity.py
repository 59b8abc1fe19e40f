"""Similarity search over embedding columns (``array<float>``).

No reference equivalent — LLM-pipeline extension surface. Two tiers:

* ``cosine_topk``: exact brute-force top-k. The query set is broadcast
  (it is small by definition); every partition scans its vectors once and
  computes cosines JVM-side (``zip_with``/``aggregate`` higher-order
  functions — no Python, no shuffle besides the final per-query top-k,
  which AQE keeps tiny because the window input is pre-filtered to k·|Q|
  rows per partition via partial top-k). This is the correctness baseline.

* ``lsh_topk``: the scale path — deterministic random-hyperplane LSH.
  Each vector gets a ``bits``-wide sign bucket; queries only scan vectors
  sharing their bucket (plus optional 1-bit-flip probes). Bucketing is a
  per-row expression; the search join is an equi-join on the bucket key,
  so cost scales with bucket occupancy, not |corpus|. Approximate by
  construction — recall depends on bits/probes.

Hyperplanes are derived deterministically from md5(seed ‖ bit ‖ dim), so
results are reproducible across runs and engines with no stored model.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "cosine_sim",
    "cosine_topk",
    "hyperplane_bucket",
    "lsh_topk",
    "ivf_assign",
    "ivf_topk",
    "kmeans_fit",
    "kmeans_fit_model",
    "cell_assign_expr",
    "pq_fit",
    "pq_assign",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "quantize_int8",
    "int8_covariance",
    "phrase_search",
    "hard_negatives",
    "hashing_embed",
    "jl_project_int8",
    "rrf_fuse",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns (left-fold dot/norms —
    the same sequential order DuckDB's list aggregates use, so results are
    bit-identical across engines)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_corpus_rows: int | None = 10_000_000,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    ``queries`` must be small (it is broadcast to every partition —
    the standard brute-force ANN baseline shape). Output:
    (query_id, vec_id, cos_sim_ppm) with cos_sim_ppm = floor(cos·1e6) as
    BIGINT — ranking uses the raw double, the released value is integer
    ppm so no engine's decimal tie rounding can perturb a comparison.

    This is the O(|corpus| × |queries|) exactness anchor, not the scale
    tier: ``max_corpus_rows`` fails fast when the corpus exceeds the cap
    so a full-corpus run can't be launched by accident — use
    :func:`lsh_topk` / :func:`ivf_topk` there, or pass ``None`` to
    deliberately run exhaustively. The guard probes via
    ``limit(cap+1).count()``, which short-circuits after cap+1 rows
    instead of sweeping the corpus it is protecting against.
    """
    from pyspark.sql import Window as W

    if max_corpus_rows is not None:
        probed = vectors.limit(max_corpus_rows + 1).count()
        if probed > max_corpus_rows:
            raise ValueError(
                f"cosine_topk is the brute-force exact tier and the corpus "
                f"exceeds max_corpus_rows={max_corpus_rows}; use lsh_topk "
                f"or ivf_topk at this scale, or pass max_corpus_rows=None "
                f"to force an exhaustive scan"
            )

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_q")
    )
    scored = v.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        cosine_sim(F.col("_q"), F.col("_v")).alias("_cos"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            query_id_col,
            id_col,
            F.floor(F.col("_cos") * 1000000).cast("bigint").alias("cos_sim_ppm"),
        )
    )


def _hyperplane(dim: int, bit: int, seed: str = "ann") -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component d is
    ±1 from one md5 byte — enough for sign-LSH, no RNG state."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{bit}:{d}".encode()).digest()[0]
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def hyperplane_bucket(
    vec: Column, dim: int, bits: int = 8, seed: str = "ann"
) -> Column:
    """Sign-LSH bucket id: bit j set iff ``vec · h_j > 0``. Pure expression —
    evaluated inside codegen, no model object, no shuffle."""
    bucket = F.lit(0).cast("bigint")
    v = vec.cast("array<double>")
    for j in range(bits):
        h = F.array(*[F.lit(x) for x in _hyperplane(dim, j, seed)])
        bit = F.when(_dot(v, h) > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        bucket = bucket + bit * F.lit(2**j).cast("bigint")
    return bucket


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits: int = 8,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's hyperplane
    bucket, then exact cosine rerank within candidates.

    The bucket equi-join replaces the brute-force cross product — at scale,
    repartition ``vectors`` by bucket once and reuse across query batches.
    Recall < 1.0 by design; raise ``bits`` resolution or ``probes`` for
    tighter recall. Output shape matches ``cosine_topk``.

    ``probes`` > 0 enables query-directed multi-probe (Lv et al. 2007,
    single-bit perturbations): each query ALSO searches the ``probes``
    buckets obtained by flipping its least-confident hyperplane bits —
    smallest |dot| margin first, power-of-two tiebreak, computed on the
    (small) query side only. Corpus buckets are disjoint, so probe hits
    need no dedup; cost is (probes+1)× bucket scans per query, still an
    equi-join, never a cross product. ``probes=0`` is bit-for-bit the
    original single-bucket search."""
    from pyspark.sql import Window as W

    v = vectors.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        hyperplane_bucket(F.col(vec_col), dim, bits).alias("_bucket"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_q"),
        hyperplane_bucket(F.col(vec_col), dim, bits).alias("_bucket"),
    )
    if probes:
        margins = F.array(
            *[
                F.struct(
                    F.abs(
                        _dot(
                            F.col("_q"),
                            F.array(
                                *[F.lit(x) for x in _hyperplane(dim, j)]
                            ),
                        )
                    ).alias("_m"),
                    F.lit(2**j).cast("bigint").alias("_p"),
                )
                for j in range(bits)
            ]
        )
        flips = F.transform(
            F.slice(F.sort_array(margins), 1, min(probes, bits)),
            lambda s: F.col("_bucket").bitwiseXOR(s["_p"]),
        )
        q = q.withColumn(
            "_bucket",
            F.explode(F.concat(F.array(F.col("_bucket")), flips)),
        )
    scored = (
        v.join(F.broadcast(q), "_bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_sim(F.col("_q"), F.col("_v")).alias("_cos"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            query_id_col,
            id_col,
            F.floor(F.col("_cos") * 1000000).cast("bigint").alias("cos_sim_ppm"),
        )
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine): broadcast
    the (small) centroid table, score every (vector, centroid) pair
    JVM-side, keep the argmax per vector via one window. Output:
    (id, vector, cell)."""
    from pyspark.sql import Window as W

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    c = centroids.select(
        F.col(centroid_id_col), F.col(vec_col).cast("array<double>").alias("_c")
    )
    scored = v.join(F.broadcast(c)).select(
        id_col,
        "_v",
        centroid_id_col,
        cosine_sim(F.col("_v"), F.col("_c")).alias("_cos"),
    )
    w = W.partitionBy(id_col).orderBy(
        F.col("_cos").desc(), F.col(centroid_id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("_v"), F.col(centroid_id_col).alias("cell"))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are partitioned into
    ``nlist`` cells by nearest centroid; each query scans only its
    ``nprobe`` nearest cells, exact cosine within them.

    By default centroids are seeded deterministically from the corpus (the
    first ``nlist`` vectors by id — kmeans-free seeding keeps the operator
    a pure Spark plan); pass ``centroids`` (e.g. from :func:`kmeans_fit`)
    for refined cells and better recall. At scale the cell assignment is
    computed once, written partitioned by ``cell``, and the probe join
    prunes to nprobe/nlist of the corpus per query.
    """
    from pyspark.sql import Window as W

    if centroids is None:
        centroids = (
            vectors.orderBy(id_col)
            .limit(nlist)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col),
            )
        )
    else:
        centroids = centroids.select("centroid_id", vec_col)
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_q")
    )
    qc = q.join(
        F.broadcast(
            centroids.select(
                "centroid_id", F.col(vec_col).cast("array<double>").alias("_c")
            )
        )
    ).select(
        query_id_col,
        "_q",
        "centroid_id",
        cosine_sim(F.col("_q"), F.col("_c")).alias("_cos"),
    )
    wq = W.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "_q", F.col("centroid_id").alias("cell"))
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_sim(F.col("_q"), F.col("_v")).alias("_cos"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            query_id_col,
            id_col,
            F.floor(F.col("_cos") * 1000000).cast("bigint").alias("cos_sim_ppm"),
        )
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    *,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_n: int | None = 100_000,
    driver_fit_max: int = 200_000,
) -> DataFrame:
    """Spherical k-means (Lloyd's) over an embedding column; returns the
    fitted centroid table (centroid_id, embedding array<double>), the
    refined-centroid input for :func:`ivf_topk` / :func:`ivf_assign`.

    Each iteration is one distributed job: assign every vector to its
    nearest centroid (``ivf_assign`` — broadcast centroids, window argmax),
    then per-cell elementwise means via ``dim`` column aggregates (single
    map-side-partial shuffle; no posexplode row blow-up) and L2
    normalization, which makes the mean the true spherical-k-means update
    for the cosine assignment. Only the k×dim centroid MODEL crosses the
    driver per iteration — that is state, not data; the corpus never
    collects. Lineage stays flat because each iteration plans against a
    fresh broadcast centroid table instead of chaining onto the previous
    iteration's plan.

    Seeding: first ``k`` vectors by id — deterministic and engine-free.
    Empty cells keep their previous centroid.

    ``fit_sample_n`` (default 100k) caps the rows the FIT touches, via
    ``deterministic_sample`` on ``id_col``: at 100 TB the per-iteration
    global scans (seed TakeOrdered + assignment + means) must not sweep
    the corpus — assignment over everything is ``ivf_assign``'s job after
    fitting, not the fit's. A 100k sample pins centroids to the same
    cluster structure; pass ``None`` to fit on the full corpus.

    Callers that consume the model DRIVER-SIDE (SemDeDup's numpy
    assignment kernel) should call :func:`kmeans_fit_model` instead —
    wrapping the driver-local model in a DataFrame only to collect it
    back costs a whole round-trip job.
    """
    model = kmeans_fit_model(
        vectors,
        k,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        fit_sample_n=fit_sample_n,
        driver_fit_max=driver_fit_max,
    )
    return vectors.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(model)],
        f"centroid_id int, {vec_col} array<double>",
    )


def _lloyd_spherical_np(x, k: int, iters: int):
    """Driver-side spherical Lloyd core shared by :func:`kmeans_fit_model`
    and :func:`pq_fit`: seed = first k rows (caller pre-sorts by id),
    nearest-by-cosine assignment with first-max (lowest cell id) ties,
    normalized per-cell means, empty/zero-norm cells keep their previous
    centroid. A zero-norm row or centroid has no cosine: it scores -inf,
    so a zero-norm centroid never beats a nonzero one and a zero-norm
    row takes cell 0 (first max). Returns the k×dim numpy centroid
    matrix."""
    import numpy as np

    xn = np.sqrt((x * x).sum(axis=1))
    cents = x[:k].copy()
    for _ in range(iters):
        cn = np.sqrt((cents * cents).sum(axis=1))
        dots = x @ cents.T
        norms = np.outer(xn, cn)
        cos = np.divide(
            dots, norms, out=np.full_like(dots, -np.inf), where=norms > 0
        )
        assign = np.argmax(cos, axis=1)  # first max = lowest cell id
        new_cents = cents.copy()
        for ci in range(len(cents)):
            members = x[assign == ci]
            if len(members):
                m = members.mean(axis=0)
                norm = float(np.sqrt((m * m).sum()))
                if norm > 0:
                    new_cents[ci] = m / norm
        cents = new_cents
    return cents


def _lloyd_l2_np(x, k: int, iters: int):
    """Driver-side EUCLIDEAN Lloyd core for residual PQ codebooks
    (:func:`pq_fit` with ``coarse``): residual vectors are displacement
    deltas around the coarse centroid, so direction-only (spherical)
    clustering throws away their magnitude — the component that encodes
    how FAR a vector sits from its cell center — and a zero residual
    (vector exactly at the centroid) has no direction at all. Seed =
    k evenly-spaced rows (stride n/k over the caller's id-sorted
    sample — NOT the first k: the first corpus rows are typically the
    coarse-quantizer seeds themselves, whose residuals are all ≈0, so
    first-k seeding collapses every centroid onto the origin and the
    fit degenerates to a handful of effective codes; even spacing is
    equally deterministic and draws from k different cells' residuals).
    Assignment = L2 argmin with first-min (lowest code id) ties,
    centroid = plain member mean (NOT normalized), empty cells keep
    their previous centroid. Returns the k×dim numpy centroid matrix."""
    import numpy as np

    idx = (np.arange(k, dtype=np.int64) * len(x)) // k
    cents = x[idx].copy()
    for _ in range(iters):
        # ||r - c||^2 = r·r - 2 r·c + c·c ; r·r is constant per row so
        # argmin over (c·c - 2 r·c) suffices — one matmul per iteration.
        cn2 = (cents * cents).sum(axis=1)
        d2 = cn2[None, :] - 2.0 * (x @ cents.T)
        assign = np.argmin(d2, axis=1)  # first min = lowest code id
        new_cents = cents.copy()
        for ci in range(len(cents)):
            members = x[assign == ci]
            if len(members):
                new_cents[ci] = members.mean(axis=0)
        cents = new_cents
    return cents


def kmeans_fit_model(
    vectors: DataFrame,
    k: int,
    *,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_n: int | None = 100_000,
    driver_fit_max: int = 200_000,
) -> list[list[float]]:
    """:func:`kmeans_fit`'s engine, returning the fitted centroids as the
    driver-local ``list[list[float]]`` model (index = centroid_id) —
    identical values, no DataFrame round trip. The model is k×dim state,
    never data; see :func:`kmeans_fit` for semantics and the fit-sample /
    driver-fit bounding story.
    """
    sampled = None
    if fit_sample_n is not None:
        from dbt_gdpr_anonymizer_spark.sources.ingest import (
            deterministic_sample,
        )

        # persisted: every iteration's assignment/means job reads the
        # sample, and an uncached TakeOrdered plan would re-sweep the
        # corpus once per iteration; released before returning.
        sampled = persist(deterministic_sample(vectors, fit_sample_n, id_col))
        vectors = sampled
    # Driver-fit fast path: the FIT is model estimation over a BOUNDED
    # row set (the fit_sample cap, or a corpus that happens to be small).
    # When it fits comfortably on the driver, collect once and run the
    # Lloyd iterations in numpy — one Spark job total instead of one per
    # iteration (each distributed iteration pays ~1.5s of fresh codegen
    # at bench scale because the literal centroid model changes the
    # plan). Same seeding (first k by id), same argmax tie rule (first
    # maximal index = lowest centroid_id), same empty/zero-norm cell
    # semantics; float summation order differs from the distributed
    # partial sums, which stays inside the same ulp-tolerance argument
    # the oracle already relies on (assignments are separated by far
    # more than an ulp). Distributed assignment over the full corpus
    # remains ivf_assign's job after fitting — this path bounds only
    # what the FIT touches, exactly like fit_sample_n.
    # driver_fit_max parameterized so tests can force the distributed
    # loop (pass 0) and pin its equivalence to the numpy fast path.
    # The size probe and the fit collect are ONE job: CollectLimit stops
    # the scan at driver_fit_max+1 rows, and when the row set is bounded
    # (the common case — fit_sample_n caps it) those are exactly the rows
    # the fit needs, sorted driver-side (same id order as orderBy). Past
    # the cap the collected prefix is discarded and the distributed loop
    # runs — one bounded wasted transfer on the rare unbounded-fit path,
    # one job instead of two on every bounded fit.
    rows = (
        vectors.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .limit(driver_fit_max + 1)
        .collect()
    )
    if len(rows) == 0:
        raise ValueError("kmeans_fit: empty vector table")
    if len(rows) <= driver_fit_max:
        import numpy as np

        rows.sort(key=lambda r: r[0])
        x = np.array([list(r[1]) for r in rows], dtype=np.float64)
        cents = _lloyd_spherical_np(x, k, iters)
        if sampled is not None:
            sampled.unpersist()
        return [[float(v) for v in c] for c in cents]

    seed_rows = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    dim = len(seed_rows[0][0])
    centroids = [list(r[0]) for r in seed_rows]

    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        # Map-side argmax against the LITERAL centroid model: the per-
        # iteration assignment needs no broadcast join and no window
        # shuffle — the centroids are driver state, so each row scores k
        # literal arrays and takes the first maximal index (the same
        # (cos desc, centroid_id asc) tie order as ivf_assign, with the
        # identical cosine_sim arithmetic, so assignments are
        # bit-for-bit the join path's). One shuffle per iteration (the
        # means aggregate), down from three.
        cell = cell_assign_expr(v, centroids)
        means = (
            vectors.select(cell.alias("cell"), v.alias("_v"))
            .groupBy("cell")
            .agg(*[F.avg(F.col("_v")[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        new_cents = list(centroids)
        for row in means:
            m = [row[f"m{i}"] for i in range(dim)]
            norm = sum(x * x for x in m) ** 0.5
            if norm > 0:
                new_cents[row["cell"]] = [x / norm for x in m]
        centroids = new_cents
    if sampled is not None:
        sampled.unpersist()
    return [[float(x) for x in c] for c in centroids]


def cell_assign_expr(v: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell as a PURE COLUMN expression over a literal
    centroid model (no join, no shuffle): score ``k`` literal arrays with
    the same ``cosine_sim`` arithmetic as :func:`ivf_assign` and take the
    first maximal index — identical argmax and tie order ((cos desc,
    centroid_id asc)), evaluated map-side. Use when the centroids are
    already driver-local model state (the k-means loop, SemDeDup); keep
    :func:`ivf_assign` when they live in a DataFrame."""
    # k inlined cosine expressions against literal arrays. A
    # transform-over-nested-literal variant (one cosine body instead of
    # k) was tried and REVERTED: higher-order lambdas over the literal
    # model evaluated interpreted and re-per-row, measuring 8× SLOWER
    # than the inlined form at bench scale (41s vs 5s for a 3-iteration
    # fit) — inlined HOF folds stay on the fast path.
    scores = F.array(
        *[
            cosine_sim(v, F.array(*[F.lit(float(x)) for x in c]))
            for c in centroids
        ]
    )
    return (
        F.greatest(
            F.array_position(scores, F.array_max(scores)).cast("int") - 1,
            F.lit(0),
        )
    )


def pq_fit(
    vectors: DataFrame,
    *,
    m: int,
    dim: int,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_n: int | None = 100_000,
    driver_fit_max: int = 200_000,
    coarse: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """X164 product-quantization codebook fit (Jégou et al. 2011): split
    the ``dim``-dimensional space into ``m`` contiguous subspaces of
    ``dim/m`` dims and fit an independent spherical k-means codebook per
    subspace — the memory-scale path for billion-vector ANN (an encoded
    vector is ``m`` small ints instead of ``dim`` floats; FAISS's
    IVF+PQ pairs this with :func:`ivf_assign` cell routing).

    The fit is model estimation over a bounded row set (``fit_sample_n``
    caps it exactly like :func:`kmeans_fit`): ONE CollectLimit job pulls
    the id-sorted sample, then the ``m`` subspace Lloyd runs execute
    driver-side in numpy on slices of the same matrix — model state is
    m×k×(dim/m), never data. Seeding/ties/empty-cell semantics are
    :func:`kmeans_fit`'s exactly, per subspace. Returns the nested
    Python model ``[subspace][centroid][component]`` for the literal-
    expression consumers (:func:`pq_encode`, :func:`pq_adc_topk`).

    ``coarse`` switches the fit to RESIDUAL codebooks (Jégou et al. 2011
    §5.1, the FAISS ``IndexIVFPQ`` default): each sample vector is first
    routed to its coarse cell (cosine argmax, :func:`pq_assign`'s
    semantics), the codebooks are then fit on ``x − c_cell`` — the
    displacement the coarse quantizer leaves unexplained, which is far
    more compressible than the raw vector at the same code budget.
    Residual Lloyd runs EUCLIDEAN (:func:`_lloyd_l2_np`): residuals are
    deltas whose magnitude matters and whose direction is undefined at
    zero. Consume with ``pq_assign(..., coarse=..., residual=True)`` and
    ``ivf_pq_topk(..., residual=True)`` — the codes are meaningless
    without the coarse model that produced the residuals.
    """
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m {m}")
    d = dim // m
    import numpy as np

    sampled = None
    if fit_sample_n is not None:
        from dbt_gdpr_anonymizer_spark.sources.ingest import (
            deterministic_sample,
        )

        sampled = deterministic_sample(vectors, fit_sample_n, id_col)
        vectors = sampled
    rows = (
        vectors.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .limit(driver_fit_max + 1)
        .collect()
    )
    if len(rows) == 0:
        raise ValueError("pq_fit: empty vector table")
    if len(rows) > driver_fit_max:
        raise ValueError(
            "pq_fit: fit row set exceeds driver_fit_max "
            f"({driver_fit_max}); pass fit_sample_n to bound the fit "
            "(the model is estimation state — a bounded sample pins the "
            "same codebooks)"
        )
    rows.sort(key=lambda r: r[0])
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if x.shape[1] != dim:
        raise ValueError(
            f"pq_fit: vectors have dim {x.shape[1]}, expected {dim}"
        )
    if coarse is not None:
        cmat = np.array(coarse, dtype=np.float64)
        xn = np.sqrt((x * x).sum(axis=1))
        cn = np.sqrt((cmat * cmat).sum(axis=1))
        cell = np.argmax((x @ cmat.T) / np.outer(xn, cn), axis=1)
        x = x - cmat[cell]
        lloyd = _lloyd_l2_np
    else:
        lloyd = _lloyd_spherical_np
    return [
        [
            [float(v) for v in c]
            for c in lloyd(
                np.ascontiguousarray(x[:, j * d : (j + 1) * d]), k, iters
            )
        ]
        for j in range(m)
    ]


def pq_assign(
    vectors: DataFrame,
    models: list[list[list[float]]],
    *,
    id_col: str,
    vec_col: str,
    coarse: list[list[float]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """Corpus-side PQ assignment (m codes per row, plus the IVF coarse
    cell when ``coarse`` is given) as ONE Arrow-batched ``mapInPandas``
    pass — narrow, shuffle-free, numpy-vectorized.

    ``residual=True`` (requires ``coarse`` and residual-fit ``models``,
    :func:`pq_fit` with the SAME coarse model): each row encodes
    ``x − c_cell`` instead of ``x``, by L2 argmin per subspace (the
    reconstruction criterion — residual codebooks are Euclidean; ties
    break to the lowest code id, np.argmin's first-min, same stance as
    the cosine argmax below). Consumed by
    ``ivf_pq_topk(..., residual=True)``, whose ADC score adds the
    ``dot(q, c_cell)`` term back.

    Why not column expressions: nearest-centroid argmax needs m·k (+
    nlist) cosines per ROW against literal model vectors. Expression
    HOF folds evaluate interpreted (CodegenFallback) at ~ms/row on a
    64-dim corpus — measured 6s for 2000 rows on the IVFADC pass — and
    an unrolled multiply-add chain is WORSE (a 1024-node expression tree
    walks slower than the fold loop and blows up codegen). One matmul
    per Arrow batch is the honest vectorized path, the same tier the
    multimodal/FF1/NFC operators use; swap in a JVM/native kernel where
    available.

    Cross-engine parity stance: numpy's BLAS partial-sum order differs
    from the SQL left fold in the last ulp, exactly like the
    :func:`kmeans_fit_model` numpy fit the oracles already accept —
    argmax decisions are separated far beyond an ulp on real corpora,
    ties between IDENTICAL vectors/codebook rows are exact in both
    engines, and np.argmax's first-max matches the (cos desc, id asc)
    SQL rank. Verified hash-green vs the unrolled DuckDB replay at
    sf0.001/0.01/0.1."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    if residual and coarse is None:
        raise ValueError(
            "pq_assign: residual=True requires the coarse model the "
            "residual codebooks were fit against"
        )
    m = len(models)
    d = len(models[0][0])
    src = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    fields = [StructField(id_col, src.schema[id_col].dataType)]
    if coarse is not None:
        fields.append(StructField("cell", IntegerType()))
    fields += [StructField(f"code_{j}", IntegerType()) for j in range(m)]

    def fn(batches):
        import numpy as np
        import pandas as pd

        bks = [np.array(b, dtype=np.float64) for b in models]
        bkn = [np.sqrt((bk * bk).sum(axis=1)) for bk in bks]
        if coarse is not None:
            cmat = np.array(coarse, dtype=np.float64)
            cn = np.sqrt((cmat * cmat).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            out = {id_col: pdf[id_col]}
            if coarse is not None:
                xn = np.sqrt((x * x).sum(axis=1))
                cos = (x @ cmat.T) / np.outer(xn, cn)
                cell = np.argmax(cos, axis=1)
                out["cell"] = cell.astype("int32")
                if residual:
                    x = x - cmat[cell]
            for j in range(m):
                s = x[:, j * d : (j + 1) * d]
                if residual:
                    # L2 argmin: ||s-c||^2 = s·s - 2 s·c + c·c; s·s is
                    # constant per row, so argmin(c·c - 2 s·c) suffices.
                    # c·c computed DIRECTLY (not bkn²: squaring the
                    # sqrt'd norm rounds — sqrt(5)² ≠ 5 — and flips
                    # mathematically exact ties between equal-distance
                    # codewords).
                    bn2 = (bks[j] * bks[j]).sum(axis=1)
                    d2 = bn2[None, :] - 2.0 * (s @ bks[j].T)
                    out[f"code_{j}"] = np.argmin(d2, axis=1).astype(
                        "int32"
                    )
                else:
                    sn = np.sqrt((s * s).sum(axis=1))
                    cosj = (s @ bks[j].T) / np.outer(sn, bkn[j])
                    out[f"code_{j}"] = np.argmax(cosj, axis=1).astype(
                        "int32"
                    )
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, StructType(fields))


def pq_encode(
    vectors: DataFrame,
    models: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector against a :func:`pq_fit` model: one int code
    per subspace, nearest-by-cosine with :func:`cell_assign_expr`'s
    argmax/tie semantics, computed as one Arrow-batched numpy pass
    (:func:`pq_assign` — narrow, no join, no shuffle); the output
    row is the m-int code that replaces the float vector downstream.
    Returns ``(id_col, code_0 … code_{m-1})``."""
    return pq_assign(vectors, models, id_col=id_col, vec_col=vec_col)


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    models: list[list[list[float]]],
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each corpus vector
    is reduced to its ``m`` codebook codes and scored against a query by
    ``Σ_j dot(q_j, codebook_j[code_j])`` — the query stays exact, the
    corpus is quantized, which is how PQ retrieval actually runs (Jégou
    et al. 2011 §4.2, inner-product/MIPS form).

    Scale shape: encoding is one narrow Arrow-batched pass
    (:func:`pq_encode`); per (query × row) the score is ``m`` literal
    table lookups (``element_at`` over the k precomputed
    query-to-centroid dots) summed left-to-right — no float vector is
    touched after encoding. ``queries`` must be small (broadcast; the
    :func:`cosine_topk` contract) and the per-query rank window is
    partitioned by query id. At billion-vector scale this composes with
    coarse cell routing (:func:`ivf_pq_topk`) so only a few cells'
    codes are scanned. Self-matches are excluded.

    Cross-engine determinism: every query-to-centroid dot is the same
    left-fold ``_dot`` both engines compute bit-identically; equal-coded
    rows score EXACTLY equal and tie-break on ``id_col``. Returns
    ``(query_id_col, rank BIGINT, id_col)`` — integer-only release (the
    kmeans-oracle precedent: fitted-centroid floats may drift in the
    last ulp across engines, argmax/rank decisions do not; the encode
    argmax itself carries the :func:`pq_assign` numpy stance).

    Pass ``codes`` (a ``(id_col, code_0…)`` frame from :func:`pq_encode`
    / :func:`pq_assign`, typically persisted) to reuse one corpus encode
    across several retrieval passes — the recall report shares one
    assign between this and :func:`ivf_pq_topk`.
    """
    from pyspark.sql import Window

    m = len(models)
    if codes is None:
        codes = pq_encode(vectors, models, id_col=id_col, vec_col=vec_col)
    qluts = _pq_query_luts(
        queries, models, query_id_col=query_id_col, vec_col=vec_col
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_adc"), F.asc(id_col)
    )
    return (
        qluts.crossJoin(codes)
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("_adc", _pq_adc_score(m))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("bigint").alias("rank"),
            id_col,
        )
    )


def _pq_query_luts(
    queries: DataFrame,
    models: list[list[list[float]]],
    *,
    query_id_col: str,
    vec_col: str,
    extra_cols: list[Column] | None = None,
) -> DataFrame:
    """Project the per-subspace ADC lookup tables ON THE QUERY SIDE
    before any join: the m×k interpreted dot folds run once per QUERY
    row, and the per-pair work after the join is m codegen ``element_at``
    lookups + adds (folding the luts inline post-join would re-evaluate
    every fold per query×row). ``_lut_j[c]`` = left-fold dot of the
    query's j-th subvector with codebook j's centroid c."""
    d = len(models[0][0])
    q_v = F.col(vec_col).cast("array<double>")
    return queries.select(
        F.col(query_id_col),
        *[
            F.array(
                *[
                    _dot(
                        F.slice(q_v, j * d + 1, d),
                        F.array(*[F.lit(float(x)) for x in c]),
                    )
                    for c in models[j]
                ]
            ).alias(f"_lut_{j}")
            for j in range(len(models))
        ],
        *(extra_cols or []),
    )


def _pq_adc_score(m: int) -> Column:
    """Left-to-right sum of the m ``element_at(_lut_j, code_j + 1)``
    terms — the same fold order as DuckDB's left-assoc ``+`` chain."""
    score = None
    for j in range(m):
        term = F.element_at(F.col(f"_lut_{j}"), F.col(f"code_{j}") + 1)
        score = term if score is None else score + term
    return score


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    models: list[list[list[float]]],
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    coarse: list[list[float]] | None = None,
    corpus: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """X165 IVFADC — the composition the billion-vector tier actually runs
    (Jégou et al. 2011 §5; FAISS ``IndexIVFPQ``): a coarse quantizer
    routes every vector to one of ``nlist`` cells, the vector is stored
    only as its ``m`` PQ codes, and a query scans just its ``nprobe``
    nearest cells, scoring candidates asymmetrically via the
    :func:`pq_adc_topk` LUTs.

    Scale shape: the ENTIRE corpus pass is ONE shuffle-free narrow
    Arrow-batched pass — coarse routing + the :func:`pq_encode` codes
    from the same matmuls (:func:`pq_assign`; at real scale:
    write once, partitioned by ``cell``, reuse across query batches).
    The query side (small by the
    :func:`cosine_topk` broadcast contract) computes its probe list and
    ADC LUTs as literal expressions too, so the only join is the
    broadcast probe↔cell equi-join that prunes the scan to
    nprobe/nlist of the corpus; the rank window is per-query.

    ``coarse`` is the nlist coarse-quantizer model (driver-local list,
    e.g. :func:`kmeans_fit_model`); default seeding collects the first
    ``nlist`` vectors by id (one CollectLimit job — deterministic, the
    :func:`ivf_topk` seeding made model-state). Probe order is
    (cos desc, cell asc), exactly :func:`ivf_topk`'s; code/tie semantics
    are :func:`pq_adc_topk`'s. Returns (query_id_col, rank BIGINT,
    id_col) — the same integer-only release.

    Pass ``corpus`` (a ``(id_col, cell, code_0…)`` frame from
    :func:`pq_assign` with the SAME coarse model, typically persisted or
    read back from a cell-partitioned layout) to reuse one corpus assign
    across query batches; ``coarse`` is then required (it still drives
    probe selection).

    ``residual=True`` (the classic Jégou §5.1 / FAISS ``IndexIVFPQ``
    form): ``models`` must be residual codebooks (:func:`pq_fit` with
    the SAME ``coarse``), the corpus encode quantizes ``x − c_cell``
    (L2 argmin — :func:`pq_assign` ``residual=True``), and the ADC
    score adds the coarse term back:
    ``dot(q, c_cell) + Σ_j dot(q_j, cb_j[code_j]) ≈ dot(q, x)``. The
    per-cell coarse dots are one more query-side literal array indexed
    by the probed cell — per-pair work stays m+1 codegen lookups. A
    caller-supplied ``corpus`` must have been assigned with the same
    ``residual`` flag (codes from the other encoding are silently
    wrong — there is no way to tell them apart from the frame)."""
    from pyspark.sql import Window

    m = len(models)
    if corpus is not None and coarse is None:
        raise ValueError(
            "ivf_pq_topk: a precomputed corpus frame requires the coarse "
            "model that produced it (probe selection needs the centroids)"
        )
    if residual and coarse is None:
        # mirror pq_assign's guard: residual codebooks were fit against
        # a SPECIFIC coarse model — auto-seeding a fresh one here would
        # encode residuals vs the wrong centroids and rank garbage with
        # no error surfaced
        raise ValueError(
            "ivf_pq_topk: residual=True requires the coarse model the "
            "residual codebooks were fit against"
        )
    if coarse is None:
        rows = (
            vectors.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            .orderBy(id_col)
            .limit(nlist)
            .collect()
        )
        coarse = [[float(x) for x in r[1]] for r in rows]
    if corpus is None:
        # One narrow corpus pass: coarse cell + the m codes per row
        # (Arrow-batched numpy — see pq_assign for why not exprs).
        corpus = pq_assign(
            vectors,
            models,
            id_col=id_col,
            vec_col=vec_col,
            coarse=coarse,
            residual=residual,
        )
    # Probe list as a literal expression: sort (−cos, cell_id) structs
    # ascending (= cos desc, cell asc — negation is IEEE-exact) and keep
    # the first nprobe cell ids.
    q_v = F.col(vec_col).cast("array<double>")
    probe_structs = F.array(
        *[
            F.struct(
                (
                    cosine_sim(q_v, F.array(*[F.lit(float(x)) for x in c]))
                    * F.lit(-1.0)
                ).alias("_nc"),
                F.lit(ci).alias("_cid"),
            )
            for ci, c in enumerate(coarse)
        ]
    )
    probes_arr = F.transform(
        F.slice(F.sort_array(probe_structs), 1, nprobe), lambda s: s["_cid"]
    )
    extra = [probes_arr.alias("_probes")]
    if residual:
        # Per-cell coarse dots as one more query-side literal array:
        # after the probe explode, the score's coarse term is a single
        # codegen element_at — same tier as the m code lookups.
        extra.append(
            F.array(
                *[
                    _dot(q_v, F.array(*[F.lit(float(x)) for x in c]))
                    for c in coarse
                ]
            ).alias("_cdots")
        )
    qside = _pq_query_luts(
        queries,
        models,
        query_id_col=query_id_col,
        vec_col=vec_col,
        extra_cols=extra,
    )
    probes = qside.select(
        query_id_col,
        *[f"_lut_{j}" for j in range(m)],
        *(["_cdots"] if residual else []),
        F.explode("_probes").alias("cell"),
    )
    score = _pq_adc_score(m)
    if residual:
        score = (
            F.element_at(F.col("_cdots"), F.col("cell") + 1) + score
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_adc"), F.asc(id_col)
    )
    return (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("_adc", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("bigint").alias("rank"),
            id_col,
        )
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8 scalar quantization (the standard ANN-index
    compression: 4× smaller than float32, distance error bounded by the
    per-vector range).

    Each vector is affine-mapped from ``[min, max]`` to ``[-128, 127]``:
    ``q = floor((v - min) · 255 / (max - min)) - 128`` (max lands exactly
    on 127, min on -128); constant vectors quantize to all zeros.

    Determinism: every step is IEEE-754 double arithmetic in a fixed
    order — float→double widening is exact, and ``floor`` (never
    ``round``, whose half-way ties differ across engines) makes the result
    bit-identical in any engine. Per-row expressions only (no shuffle, no
    UDF, whole-stage codegen); the quantized bytes are emitted both as an
    ``array<int>`` for downstream use and as a CSV string so the result
    can be hash-compared across engines.
    """
    v = F.col(vec_col)
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    q = F.when(
        mx > mn,
        F.transform(
            v,
            lambda x: (
                F.floor((x.cast("double") - mn) * 255.0 / (mx - mn)) - 128
            ).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        id_col,
        mn.alias("v_min"),
        mx.alias("v_max"),
        q.alias("q_vec"),
        F.array_join(q.cast("array<string>"), ",").alias("q_csv"),
    )


def sparse_cosine_topk(
    docs: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale_bits: int = 16,
) -> DataFrame:
    """Exact sparse TF-IDF cosine top-k, query-by-document: for each query
    document, the k most similar corpus documents under cosine over the
    tf·idf term-weight vectors (the classic sparse-retrieval baseline that
    complements dense ANN (cosine_topk tiers) and BM25 keyword search).

    Scale design: an inverted-index join — per-(doc, term) weights joined
    to the QUERY side's weights on the term (query set ≪ corpus, so the
    query postings broadcast and corpus postings never shuffle for the
    join), then one map-side-partial sum per (query, doc) and a per-query
    top-k window over candidates only. Documents sharing no term with a
    query never materialize. Σ over a pair's shared terms is the only
    superlinear spot and is bounded by the query document's length.

    Determinism: double sums are partition-order-dependent, so weights are
    quantized to integers (``floor(w · 2^scale_bits)``) BEFORE the dot
    product — integer sums are exact and order-independent, and the one
    double division at the end is bit-identical everywhere. idf uses the
    same smoothed form as the tfidf_top_terms registry query.
    """
    from dbt_gdpr_anonymizer_spark.functions import text as tx

    q = query_ids.select(F.col(id_col).alias("_qid"))
    toks = docs.select(
        id_col,
        F.explode(
            F.filter(tx.words(text_col), lambda w: w != F.lit(""))
        ).alias("_w"),
    )
    tf = toks.groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_tf"))
    dfq = tf.groupBy("_w").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    # integer-quantized tf·idf weight; exact and engine-identical
    w_scaled = F.floor(
        F.col("_tf").cast("double")
        * (F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0)) + 1.0)
        * F.lit(float(1 << scale_bits))
    ).cast("long")
    weights = (
        tf.join(dfq, "_w")
        .crossJoin(F.broadcast(n_docs))
        .select(id_col, "_w", w_scaled.alias("_ws"))
    )
    norms = weights.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("_ws") * F.col("_ws")).cast("double")).alias("_nrm")
    )
    qw = weights.join(
        F.broadcast(q), weights[id_col] == F.col("_qid")
    ).select("_qid", "_w", F.col("_ws").alias("_qws"))
    dots = (
        weights.filter(F.col(id_col).isNotNull())
        .join(F.broadcast(qw), "_w")
        .filter(F.col(id_col) != F.col("_qid"))
        .groupBy("_qid", id_col)
        .agg(F.sum(F.col("_ws") * F.col("_qws")).alias("_dot"))
    )
    qn = norms.select(F.col(id_col).alias("_qid"), F.col("_nrm").alias("_qnrm"))
    scored = (
        dots.join(norms, id_col)
        .join(F.broadcast(qn), "_qid")
        .select(
            "_qid",
            id_col,
            (
                F.col("_dot").cast("double")
                / (F.col("_nrm") * F.col("_qnrm"))
            ).alias("_score"),
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("_qid").orderBy(
            F.col("_score").desc(), F.col(id_col)
        )
    )
    return (
        scored.withColumn("_rk", rk)
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_qid").alias(f"query_{id_col}"),
            F.col(id_col).alias(f"match_{id_col}"),
            # floor-only ppm (see cosine_topk): exact IEEE, engine-stable
            F.floor(F.col("_score") * 1000000).cast("bigint").alias("score_ppm"),
            F.col("_rk").cast("bigint").alias("rank"),
        )
    )


def int8_covariance(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact upper-triangle covariance statistics of the int8-quantized
    embedding corpus — the drift / feature-decorrelation signal computed
    the way a 100 TB corpus must: integer-exact and order-independent.

    Each vector is quantized with :func:`quantize_int8` (deterministic
    affine int8), then for every dimension pair ``i <= j`` the release is
    the raw sufficient statistics ``(n_vecs, s_i, s_j, s_ij)`` — all
    BIGINT sums, immune to float summation order — plus the integer
    covariance numerator ``cov_num = n·s_ij - s_i·s_j`` (callers divide
    by ``n²`` for the covariance proper; |q| <= 128 keeps cov_num within
    int64 up to ~5·10^8 vectors — shard or rescale past that).

    Plan shape — the classic map-side Gram-matrix design: one
    Arrow-batched ``mapInPandas`` pass computes each batch's EXACT
    integer partials (``Qᵀ·Q`` int64 matmul + column sums — integer sums
    are order-independent, so BLAS blocking cannot perturb the release),
    emitting d(d+1)/2 rows per batch; one hash aggregation on the (i, j)
    key reduces them. Shuffle volume is ``batches × d²`` — independent of
    corpus size — and the per-row work is a vectorized matmul instead of
    the d²-row Generate fan-out a pair-explode plan pays (measured ~2×
    end-to-end at bench scale). The quantization is a bit-exact numpy
    twin of :func:`quantize_int8`'s affine map (same float64 op order:
    ``floor((x − min)·255 / (max − min)) − 128``, min/max taken in the
    source precision then widened), so the oracle's SQL replay still
    hash-matches.
    """
    import numpy as np
    import pandas as pd

    def _partials(batches):
        iu = None
        for pdf in batches:
            if not len(pdf):
                continue
            src = np.stack(pdf[vec_col].to_numpy())
            mn = src.min(axis=1).astype(np.float64)[:, None]
            mx = src.max(axis=1).astype(np.float64)[:, None]
            x = src.astype(np.float64)
            rng = mx - mn
            q = np.where(
                rng > 0,
                np.floor((x - mn) * 255.0 / np.where(rng > 0, rng, 1.0))
                - 128,
                0.0,
            ).astype(np.int64)
            if iu is None:
                iu = np.triu_indices(q.shape[1])
            gram = q.T @ q
            s = q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype(np.int32),
                    "j": iu[1].astype(np.int32),
                    "n_part": np.full(len(iu[0]), len(q), dtype=np.int64),
                    "si_part": s[iu[0]],
                    "sj_part": s[iu[1]],
                    "sij_part": gram[iu],
                }
            )

    part = df.select(vec_col).mapInPandas(
        _partials,
        "i int, j int, n_part long, si_part long, sj_part long, "
        "sij_part long",
    )
    agg = part.groupBy("i", "j").agg(
        F.sum("n_part").alias("n_vecs"),
        F.sum("si_part").alias("s_i"),
        F.sum("sj_part").alias("s_j"),
        F.sum("sij_part").alias("s_ij"),
    )
    return agg.select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        "n_vecs",
        "s_i",
        "s_j",
        "s_ij",
        (F.col("n_vecs") * F.col("s_ij") - F.col("s_i") * F.col("s_j"))
        .cast("bigint")
        .alias("cov_num"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase query over a positional inverted index — the
    capability BM25's bag-of-words scoring cannot express (terms must be
    ADJACENT and ordered).

    Anchor-normalization plan (one aggregation, no m-way self-join): each
    posting of phrase term ``phrase[k]`` at position ``p`` votes for
    anchor ``p - k``; an anchor that collects all ``len(phrase)`` distinct
    offsets is a match. The token explode is filtered to the phrase's
    terms BEFORE any shuffle (predicate on the generate output), so the
    aggregation state is bounded by the phrase terms' posting lists,
    never the corpus. Duplicate terms in the phrase (``"a b a"``) are
    handled by counting distinct OFFSETS, not distinct terms.

    Returns matching documents only: ``(id_col, n_matches BIGINT,
    first_pos BIGINT)`` — occurrence count and the earliest 0-based
    match position.
    """
    from dbt_gdpr_anonymizer_spark.functions.text import words

    m = len(phrase)
    if m == 0:
        raise ValueError("phrase_search needs a non-empty phrase")
    offsets = [(i, w) for i, w in enumerate(phrase)]
    term_off = F.array(
        *[
            F.struct(F.lit(w).alias("w"), F.lit(i).alias("k"))
            for i, w in offsets
        ]
    )
    toks = docs.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("pos", "w")
    ).filter(F.col("w").isin(*{w for _, w in offsets}))
    # one posting may satisfy several phrase offsets (repeated terms):
    # explode the phrase-offset table per posting, keep matching offsets
    votes = (
        toks.select(id_col, "pos", "w", F.explode(term_off).alias("t"))
        .filter(F.col("t.w") == F.col("w"))
        .select(
            id_col,
            (F.col("pos") - F.col("t.k")).alias("anchor"),
            F.col("t.k").alias("k"),
        )
        .filter(F.col("anchor") >= 0)
    )
    anchors = (
        votes.groupBy(id_col, "anchor")
        .agg(F.count_distinct("k").alias("n_off"))
        .filter(F.col("n_off") == m)
    )
    return (
        anchors.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("anchor").cast("bigint").alias("first_pos"),
        )
    )


def hard_negatives(
    vectors: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    pos_id_col: str = "pos_id",
    dim: int = 64,
    bits: int = 8,
    sim_ceiling_ppm: int | None = None,
) -> DataFrame:
    """X140 hard-negative mining for contrastive embedding training
    (the in-batch-negatives upgrade every dense-retriever recipe uses —
    DPR, Karpukhin et al. 2020): for each (query, positive) pair, the
    top-k candidates most similar to the QUERY that are neither the
    query nor its labeled positive — optionally excluding candidates
    above ``sim_ceiling_ppm`` (near-duplicates of the query are likely
    unlabeled positives; mining them as negatives poisons the loss).

    Scale shape is the X7 LSH plan: deterministic hyperplane buckets on
    both sides, candidates from the bucket equi-join ONLY (no all-pairs),
    query side broadcast (pairs ≪ corpus), exact cosine rerank, one
    per-query top-k window over bucket-bounded candidates. The ceiling
    filter applies BEFORE ranking on the integral ppm floor, so the cut
    is engine-exact.

    Returns ``(query_id_col, neg_id, cos_sim_ppm BIGINT)``.
    """
    from pyspark.sql import Window as W

    v = vectors.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        hyperplane_bucket(F.col(vec_col), dim, bits).alias("_bucket"),
    )
    q = (
        vectors.join(
            pairs, F.col(id_col) == F.col(query_id_col), "inner"
        )
        .select(
            query_id_col,
            pos_id_col,
            F.col(vec_col).cast("array<double>").alias("_q"),
            hyperplane_bucket(F.col(vec_col), dim, bits).alias("_bucket"),
        )
    )
    scored = (
        v.join(F.broadcast(q), "_bucket")
        .filter(
            (F.col(id_col) != F.col(query_id_col))
            & (F.col(id_col) != F.col(pos_id_col))
        )
        .select(
            query_id_col,
            F.col(id_col).alias("neg_id"),
            F.floor(
                cosine_sim(F.col("_q"), F.col("_v")) * 1000000
            ).cast("bigint").alias("cos_sim_ppm"),
        )
    )
    if sim_ceiling_ppm is not None:
        scored = scored.filter(F.col("cos_sim_ppm") < sim_ceiling_ppm)
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cos_sim_ppm").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def centroid_drift_int8(
    df: DataFrame,
    *,
    group_col: str = "label",
    cohort_col: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """X157 embedding centroid drift between two cohorts, integer-exact —
    the embedding-space twin of the X34 distributional drift (PSI)
    signal: did a group's SEMANTIC center move between two snapshots /
    pipeline versions / crawl waves? Float centroids can't be released
    cross-engine (partial-sum order), so vectors go through the X47
    deterministic int8 quantization and the release is the integer
    cross-multiplied L1 drift numerator
    ``drift_num = Σ_d |sA[d]·nB − sB[d]·nA|`` (divide by ``nA·nB`` for
    the mean-absolute-centroid-shift proper) plus both cohort counts —
    BIGINT end to end, immune to summation order. |q| ≤ 128 keeps the
    cross products in int64 up to ~2·10^8 vectors per cohort; shard or
    rescale past that (the int8_covariance stance).

    ``cohort_col`` is any 0/1 integer Column (defaults to ``id_col % 2``
    — the split-halves self-check; pass a snapshot/source indicator for
    the real comparison).

    Plan: per-row quantization (codegen, no UDF) → posexplode dims
    (linear, rows×d) → ONE map-side-combined aggregate keyed on
    (group, dim) with conditional cohort sums → one tiny aggregate to
    the per-group release. Output is one row per group.
    """
    cohort = (
        cohort_col
        if cohort_col is not None
        else (F.col(id_col) % 2).cast("int")
    )
    q = quantize_int8(df, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col),
        F.col("q_vec").alias("_q"),
    )
    base = df.select(
        F.col(id_col), F.col(group_col), cohort.alias("_coh")
    ).join(q, id_col)
    dims = base.select(
        group_col,
        "_coh",
        F.posexplode("_q").alias("_d", "_v"),
    )
    per_dim = dims.groupBy(group_col, "_d").agg(
        F.sum(F.when(F.col("_coh") == 0, F.col("_v")).otherwise(0))
        .cast("bigint")
        .alias("_sa"),
        F.sum(F.when(F.col("_coh") == 1, F.col("_v")).otherwise(0))
        .cast("bigint")
        .alias("_sb"),
    )
    counts = base.groupBy(group_col).agg(
        F.sum(F.when(F.col("_coh") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("_coh") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return (
        per_dim.join(counts, group_col)
        .groupBy(group_col, "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("_sa") * F.col("n_b")
                    - F.col("_sb") * F.col("n_a")
                )
            )
            .cast("bigint")
            .alias("drift_num")
        )
        .select(group_col, "n_a", "n_b", "drift_num")
    )


def hashing_embed(
    docs: DataFrame,
    dim: int = 64,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "hembed",
) -> DataFrame:
    """X166 hashing-trick text vectorizer (Weinberger et al. 2009): every
    document becomes a ``dim``-dimensional dense vector with NO
    vocabulary, NO fitted model, and NO driver state — token ``w`` adds
    ``sign(w)`` to component ``bucket(w)``, both derived from
    ``md5(salt ‖ ':' ‖ w)`` (bucket = first 5 hex nibbles mod dim, the
    established cross-engine idiom; sign = parity of nibble 6). This is
    the text→embedding glue that lets the WHOLE embedding tier (cosine /
    LSH / IVF / PQ / IVFADC / SemDeDup) run on raw text corpora without
    an external model.

    Scale shape: explode → two keyed hash aggregates ((doc, bucket) then
    doc) — map-side combinable, no window, no join; the densify step is
    one per-doc transform over the dim-length index range. Weights are
    INTEGER-exact (a sum of ±1s) released as ``array<double>`` for the
    cosine consumers; zero-token documents embed as the zero vector.
    Returns ``(id_col, embedding, n_tokens BIGINT)``."""
    from dbt_gdpr_anonymizer_spark.functions.text import words

    key = F.concat(F.lit(f"{salt}:"), F.col("_w"))
    h = F.md5(key)
    bucket = (
        F.conv(F.substring(h, 1, 5), 16, 10).cast("bigint") % dim
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 6, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    toks = (
        docs.select(F.col(id_col), F.explode(words(text_col)).alias("_w"))
        .filter(F.col("_w") != "")
        .select(id_col, bucket.alias("_b"), sign.alias("_s"))
    )
    dw = toks.groupBy(id_col, "_b").agg(
        F.sum("_s").cast("long").alias("_wt"),
        F.count(F.lit(1)).alias("_n"),
    )
    sparse = dw.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_wt")))
        ).alias("_m"),
        F.sum("_n").cast("long").alias("n_tokens"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("int")), F.lit(0)
        ).cast("double"),
    )
    return (
        docs.select(id_col)
        .join(sparse, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                dense,
                F.array(*[F.lit(0.0) for _ in range(dim)]),
            ).alias("embedding"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
    )


def _jl_sign_matrix(dim: int, out_dim: int, salt: str):
    """Deterministic ±1 Rademacher matrix from md5 parity — entry (i, j)
    is +1 iff the first hex nibble of ``md5(f"{salt}:{i}:{j}")`` is
    even (the hashing_embed sign idiom). Pure function of (dim,
    out_dim, salt): every executor regenerates the identical matrix —
    NO broadcast, no driver state, and the DuckDB oracle replays the
    same strings relationally."""
    import numpy as np

    m = np.empty((dim, out_dim), dtype=np.int64)
    for i in range(dim):
        for j in range(out_dim):
            nib = int(
                hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[0], 16
            )
            m[i, j] = 1 if nib % 2 == 0 else -1
    return m


def jl_project_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    out_dim: int = 16,
    salt: str = "jl",
    dim: int | None = None,
) -> DataFrame:
    """X186 Johnson–Lindenstrauss random projection over the int8 tier
    (Johnson & Lindenstrauss 1984; Achlioptas 2003's database-friendly
    ±1 projections): compress ``dim``-dimensional vectors to
    ``out_dim`` components as ``p_j = Σ_i s_ij · q_i`` with a
    Rademacher sign matrix — the distance-preserving dimensionality
    cut that front-ends an ANN/clustering tier when even PQ codes are
    too wide, at 4·out_dim bytes/vector.

    Scale-first composition: vectors are int8-quantized FIRST
    (:func:`quantize_int8` — exact, engine-pinned), so the projection
    is INTEGER arithmetic: order-free, overflow-safe (|p| ≤ 128·dim),
    and bit-identical between the numpy matmul here and the oracle's
    relational ``SUM(x·sign)``. The corpus pass is ONE Arrow-batched
    ``mapInPandas`` (the PQ-assign precedent: a measured ~100×
    over interpreted HOF folds); the sign matrix is regenerated
    per-executor from md5 (model-scale, dim × out_dim — never
    broadcast, never collected). Returns the LONG form
    ``(id_col, j, p)`` — one row per vector per output component.

    Contract: ``id_col`` must be an integral column (it is released as
    LongType and converted via numpy int64 inside the Arrow batches —
    enforced up front with a TypeError, the gini/zorder precedent,
    rather than an opaque numpy failure deep inside mapInPandas), and
    every vector must share ONE dimension — the sign matrix is keyed
    on it, so a ragged corpus would silently mix projections from
    incomparable matrices. Pass ``dim`` to pin it plan-side for free;
    with ``dim=None`` one distinct-size aggregate derives it (and
    fails fast on a mixed-dim corpus — a DRIVER-side ValueError, not a
    per-batch one, so cross-batch raggedness cannot slip through).
    Each batch still asserts its vectors against the pinned dim.
    """
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    id_type = dict(df.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"jl_project_int8: id_col {id_col!r} must be integral "
            f"(got {id_type}) — ids release as LongType"
        )
    if dim is None:
        sizes = (
            df.select(F.size(F.col(vec_col)).alias("_d"))
            .distinct()
            .limit(3)
            .collect()
        )
        got = sorted(r["_d"] for r in sizes)
        if len(got) > 1:
            raise ValueError(
                "jl_project_int8: ragged vector dimensions across the "
                f"corpus ({got}) — vectors must share one dim; "
                "length-normalize first or pass dim= explicitly"
            )
        dim = got[0] if got else 0
    expected_dim = int(dim)

    q = quantize_int8(df, vec_col, id_col).select(id_col, "q_vec")
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("j", IntegerType()),
            StructField("p", LongType()),
        ]
    )
    cache: dict[int, object] = {}

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            try:
                arr = np.array(
                    [np.asarray(v) for v in pdf["q_vec"]], dtype=np.int64
                )
            except ValueError as e:  # inhomogeneous lists in one batch
                raise ValueError(
                    "jl_project_int8: ragged vector dimensions within "
                    "one batch — vectors must share one dim"
                ) from e
            if arr.shape[1] != expected_dim:
                raise ValueError(
                    "jl_project_int8: batch vector dim "
                    f"{arr.shape[1]} != expected {expected_dim} — "
                    "ragged corpus; length-normalize first"
                )
            s = cache.get(expected_dim)
            if s is None:
                s = cache[expected_dim] = _jl_sign_matrix(
                    expected_dim, out_dim, salt
                )
            proj = arr @ s  # exact int64 matmul
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(
                        pdf[id_col].to_numpy(dtype=np.int64), out_dim
                    ),
                    "j": np.tile(
                        np.arange(out_dim, dtype=np.int32), n
                    ),
                    "p": proj.reshape(-1),
                }
            )

    return q.mapInPandas(gen, schema)


def rrf_fuse(
    rankings: dict[str, DataFrame],
    id_col: str = "doc_id",
    *,
    k: int = 60,
    scale: int = 1000000,
) -> DataFrame:
    """X187 reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009): combine named rankings — each a frame ``(id_col, rank)``
    with 1-based ranks — into ``rrf(d) = Σ_r scale div (k + rank_r(d))``.
    The rank-based fusion that needs NO score calibration between
    retrievers (BM25's unbounded sums vs cosine's [-1,1] fuse without
    normalization), standard in hybrid lexical+dense retrieval stacks.

    INTEGER end to end: each contribution is ``scale div (k + rank)``
    (integer division per list member, summed exactly — not a float
    1/(k+r) whose fold order could diverge across engines). A document
    missing from a list contributes nothing. Released columns:
    ``(id_col, n_lists, rrf_pm, rank_<name>...)`` — per-source ranks
    ride along NULL-able so the fusion is auditable per row; the rows
    are unordered (rank them by ``rrf_pm`` desc, ``id_col``).

    Scale shape: one unionByName of the (small, already top-k-bounded)
    ranking frames, one keyed aggregate. The rankings themselves are
    the expensive part and belong to their retrievers; fusion adds no
    corpus-scale work.

    Contract: ranking names become ``rank_<name>`` output columns, so
    they must be identifier-safe (validated up front); a ranking frame
    carrying duplicate rows for one id is reduced to its BEST (min)
    rank before fusing, so duplicates can neither double-count rrf
    contributions nor inflate ``n_lists`` past ``len(rankings)``."""
    import re as _re
    from functools import reduce as _reduce

    if not rankings:
        raise ValueError("rrf_fuse: rankings must be non-empty")
    for name in rankings:
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"rrf_fuse: ranking name {name!r} is not identifier-safe "
                "(it becomes the rank_<name> output column)"
            )
    parts = [
        r.select(
            F.col(id_col),
            F.lit(name).alias("_src"),
            F.col("rank").cast("long").alias("_rank"),
        )
        for name, r in rankings.items()
    ]
    # min-rank dedup per (ranking, id): ONE post-union aggregate (not one
    # per ranking frame) enforces the one-row-per-id contract, so
    # duplicates can neither double-count nor inflate n_lists.
    u = _reduce(lambda a, b: a.unionByName(b), parts).groupBy(
        id_col, "_src"
    ).agg(F.min("_rank").alias("_rank"))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.sum(F.expr(f"{int(scale)} div ({int(k)} + _rank)"))
        .cast("long")
        .alias("rrf_pm"),
    ] + [
        F.min(F.when(F.col("_src") == name, F.col("_rank")))
        .cast("long")
        .alias(f"rank_{name}")
        for name in rankings
    ]
    return u.groupBy(id_col).agg(*aggs)
