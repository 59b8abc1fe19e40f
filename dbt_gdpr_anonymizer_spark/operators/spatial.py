"""Spatial radius joins via equirectangular grid blocking.

The geo question a GDPR pipeline actually asks — "which subjects were
recorded within r km of each other / of a sensitive site" (the
re-identification risk behind the reference's coordinate-masking tier,
``mask_coordinates.sql``) — is an all-pairs predicate.  At 100 TB the
brute-force form is a cartesian product; the scale form is the classic
spatial-blocking rewrite: snap every point to an integer grid cell
sized so that any two points within ``radius_km`` land in the same
or an adjacent cell, probe the 3×3 neighborhood from ONE side only,
equi-join on the cell key, and verify the exact haversine distance on
the candidates.  The shuffle is a plain hash join on (i, j); the
cartesian never appears.

Cell sizing is derived from the data's own latitude extent (one 1-row
stats aggregate, broadcast back in — the bounded 1-row-stats pattern):

* latitude: 1° of latitude is 111.195 km everywhere (2πR/360 for
  R = 6371), and the meridional component of a great-circle distance
  never exceeds the distance itself, so ``cell_lat_deg =
  radius / 111.195`` guarantees |Δi| ≤ 1 for any qualifying pair.
* longitude: along a parallel at latitude φ the haversine distance for
  a longitude gap Δλ is ``2R·asin(cos φ · sin(Δλ/2)) ≥ (2/π)·R·cos φ·
  Δλ_rad`` (asin x ≥ x; sin t ≥ 2t/π on [0, π/2]), so ``Δλ_deg ≤
  radius · (π/2) / (111.195 · cos φ)``.  The operator uses the corpus
  max |lat| for φ, so the bound holds for every row.  Near the poles
  ``cos φ → 0`` widens the cell toward a single longitude band —
  correctness is preserved (the bound still holds), the blocking just
  degrades toward latitude-only, which is the honest behavior there.

Contract edges (documented, unit-pinned): the grid does not wrap at
the ±180° antimeridian, so pairs straddling it are out of contract
(callers with trans-Pacific data shift the frame first); NULL
coordinates are dropped.

Everything is per-row codegen over doubles both engines compute
bit-identically (the haversine query precedent: sin/cos/asin/sqrt/
radians hash-green since r2), so a DuckDB oracle replays the grid,
the probe fan-out, and the verify exactly.

No reference counterpart: tabodino/dbt-gdpr-anonymizer only masks
coordinates (``macros/mask_coordinates.sql:34-157``); measuring the
proximity risk they create requires this join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["dbscan_clusters", "grid_cells", "radius_pairs"]

# km per degree of latitude: 2*pi*6371/360, rounded to the literal both
# engines embed (the shared-literal stance — the value only needs to be
# a LOWER bound on km/deg for the ±1-cell guarantee, and 111.195 <
# 111.19492...? No: 2*pi*6371/360 = 111.1949.., so use 111.19 to stay
# strictly below it).
_KM_PER_LAT_DEG = 111.19
# the (2/pi) slack factor inverted: multiply the naive lon width by
# pi/2, rounded UP so the bound stays sufficient.
_LON_SLACK = 1.5708


def grid_cells(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    *,
    radius_km: float,
) -> DataFrame:
    """Append integer grid-cell indices ``(gi, gj)`` plus the data-
    derived longitude cell width ``_cd_lon`` to ``df``.

    ``gi = floor((lat + 90) / cell_lat_deg)`` with ``cell_lat_deg =
    radius / 111.19`` (a driver-side double literal, embedded
    identically in the oracle); ``gj = floor((lon + 180) / _cd_lon)``
    with ``_cd_lon = radius * 1.5708 / (111.19 * cos(radians(
    max|lat|)))`` — the corpus max |lat| comes from a 1-row aggregate
    broadcast back in (the bounded 1-row-stats pattern), so the whole
    computation is one stats job plus per-row codegen, zero extra
    shuffles. Rows with NULL coordinates are dropped (a NULL cell can
    never verify anyway)."""
    cd_lat = radius_km / _KM_PER_LAT_DEG
    stats = df.agg(
        F.max(F.abs(F.col(lat_col))).cast("double").alias("_maxabslat")
    )
    bound = df.where(
        F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
    ).crossJoin(F.broadcast(stats))
    cd_lon = (
        F.lit(radius_km * _LON_SLACK)
        / (F.lit(_KM_PER_LAT_DEG) * F.cos(F.radians(F.col("_maxabslat"))))
    )
    return (
        bound.withColumn("_cd_lon", cd_lon)
        .withColumn(
            "gi",
            F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(cd_lat)).cast(
                "bigint"
            ),
        )
        .withColumn(
            "gj",
            F.floor((F.col(lon_col) + F.lit(180.0)) / F.col("_cd_lon")).cast(
                "bigint"
            ),
        )
        .drop("_maxabslat")
    )


def _haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle km — the exact expression shape of
    ``functions.masking.haversine_distance`` (hash-green cross-engine
    since r2), repeated here to keep this module dependency-light."""
    return (
        F.lit(6371.0)
        * F.lit(2.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2)
                + F.cos(F.radians(lat1))
                * F.cos(F.radians(lat2))
                * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2)
            )
        )
    )


def radius_pairs(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    *,
    radius_km: float,
) -> DataFrame:
    """All unordered pairs of rows within ``radius_km`` great-circle km,
    via grid blocking — the scale rewrite of the cartesian predicate.

    One side explodes its 3×3 cell neighborhood (a literal 9-element
    array — constant fan-out, not a join), the other keeps its single
    home cell, and the candidate set is the hash equi-join on
    ``(gi, gj)``; the exact haversine then verifies.  Each point has
    exactly ONE home cell, so a pair is produced at most once and no
    dedup pass is needed; ``a.id < b.id`` keeps pairs unordered.  Full
    recall at the threshold is unit-pinned against the all-pairs
    replay (``tests/test_spatial.py``); misses are impossible by the
    cell-size bound except across the ±180° antimeridian (documented
    module contract).

    Returns ``(a_id, b_id, dist_mm)`` — integer millimetres,
    ``floor(km · 1e6)``, the haversine query's release convention.
    """
    pts = grid_cells(
        df.select(
            F.col(id_col).alias("_pid"),
            F.col(lat_col).cast("double").alias("_plat"),
            F.col(lon_col).cast("double").alias("_plon"),
        ),
        "_plat",
        "_plon",
        radius_km=radius_km,
    )
    probe = (
        pts.select(
            F.col("_pid").alias("a_id"),
            F.col("_plat").alias("a_lat"),
            F.col("_plon").alias("a_lon"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("gi") + F.lit(dx)).alias("pi"),
                            (F.col("gj") + F.lit(dy)).alias("pj"),
                        )
                        for dx in (-1, 0, 1)
                        for dy in (-1, 0, 1)
                    ]
                )
            ).alias("_cell"),
        )
        .select("a_id", "a_lat", "a_lon", "_cell.pi", "_cell.pj")
    )
    home = pts.select(
        F.col("_pid").alias("b_id"),
        F.col("_plat").alias("b_lat"),
        F.col("_plon").alias("b_lon"),
        "gi",
        "gj",
    )
    cand = probe.join(
        home,
        (F.col("pi") == F.col("gi"))
        & (F.col("pj") == F.col("gj"))
        & (F.col("a_id") < F.col("b_id")),
    )
    dist = _haversine_km(
        F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon")
    )
    return (
        cand.withColumn("_dkm", dist)
        .where(F.col("_dkm") <= F.lit(radius_km))
        .select(
            "a_id",
            "b_id",
            F.floor(F.col("_dkm") * 1000000).cast("bigint").alias("dist_mm"),
        )
    )


def dbscan_clusters(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    *,
    eps_km: float,
    min_pts: int,
    cc_iters: int = 6,
) -> DataFrame:
    """Grid-blocked DBSCAN (Ester/Kriegel/Sander/Xu, KDD 1996) over
    geographic points — density clustering without the cartesian: the
    eps-neighborhood graph comes from :func:`radius_pairs` (3×3 cell
    probe + hash equi-join + exact haversine verify), CORE points are
    those with ≥ ``min_pts`` points in their closed neighborhood
    (incident pairs ≥ min_pts − 1 — the pair graph excludes self), and
    clusters are the connected components of the core–core subgraph
    (synchronous min-label, ``cc_iters`` fixed rounds — exact for
    components of diameter ≤ cc_iters, the connected_components
    contract; an isolated core seeds its own cluster). BORDER points
    (non-core with ≥ 1 core neighbor) attach to the SMALLEST cluster
    label among their core neighbors — the paper leaves border
    assignment order-dependent; the min rule is the deterministic
    choice both engines share. Noise points (neither) do not release.

    Scale: the pair graph persists once and feeds degree counts, the
    core filter (two semi joins), and the component rounds — all hash
    joins and keyed aggregates over the PAIR frame, whose size the
    grid blocking already bounded. Returns ``(pid, cluster, is_core)``;
    cluster labels are min member core ids.
    """
    if min_pts < 2:
        raise ValueError("dbscan_clusters: min_pts must be >= 2")
    from dbt_gdpr_anonymizer_spark.operators.graph import (
        connected_components,
    )

    # localCheckpoint (not plain persist): the pair graph feeds degree
    # counts, two core semi-joins, AND the component rounds — and the
    # min-label rounds reference their input 2^iters times at ANALYSIS
    # time (the connected_components plan-shape note). With persist the
    # executors compute once but the analyzer still expands ~2^iters
    # copies of the whole grid/probe/verify subplan — measured driver
    # heap OOM on a 5-row input at iters=6. Checkpointing swaps the
    # plan root for a leaf, so every downstream reference is O(1).
    pairs = (
        radius_pairs(df, id_col, lat_col, lon_col, radius_km=eps_km)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    inc = pairs.select(
        F.col("a_id").alias("pid"), F.col("b_id").alias("nb")
    ).unionByName(
        pairs.select(F.col("b_id").alias("pid"), F.col("a_id").alias("nb"))
    )
    deg = inc.groupBy("pid").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    cores = deg.where(F.col("_n") >= min_pts - 1).select("pid")
    e_cc = pairs.join(
        cores.select(F.col("pid").alias("a_id")), "a_id", "left_semi"
    ).join(
        cores.select(F.col("pid").alias("b_id")), "b_id", "left_semi"
    )
    comp = connected_components(
        e_cc.select("a_id", "b_id"),
        src="a_id",
        dst="b_id",
        iters=cc_iters,
        checkpoint=True,
    )
    core_lab = cores.join(
        comp, cores["pid"] == comp["node"], "left"
    ).select(
        "pid",
        F.coalesce(F.col("component"), F.col("pid")).alias("cluster"),
    )
    border = (
        inc.join(cores, "pid", "left_anti")
        .join(
            core_lab.select(
                F.col("pid").alias("nb"), F.col("cluster")
            ),
            "nb",
        )
        .groupBy("pid")
        .agg(F.min("cluster").alias("cluster"))
    )
    out = core_lab.withColumn(
        "is_core", F.lit(1).cast("bigint")
    ).unionByName(border.withColumn("is_core", F.lit(0).cast("bigint")))
    # the checkpointed pair graph frees with GC, no unpersist needed
    return out
