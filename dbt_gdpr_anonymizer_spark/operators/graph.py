"""Graph operators over edge lists — connected components for dedup
clustering.

No reference equivalent (tabodino/dbt-gdpr-anonymizer has no graph ops);
LLM-pipeline extension surface. Pairwise near-dup output (A~B, B~C) is not
yet a dedup decision: keeping "the lower id of each pair" can drop every
member of a chain. The right unit is the CONNECTED COMPONENT of the
similarity graph — keep one representative per component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "connected_components",
    "kcore_peel",
    "label_propagation",
    "pagerank_int",
    "triangle_count",
]


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    checkpoint: bool = False,
    max_driver_edges: int = 0,
) -> DataFrame:
    """Connected components by synchronous min-label propagation.

    Every node starts labeled with its own id; each round sets
    ``label(v) = min(label(v), min over neighbors u of label(u))`` using the
    PREVIOUS round's labels (synchronous — deterministic and engine-
    reproducible, which is what lets the registry oracle unroll the same
    rounds in SQL). After ``iters`` rounds, labels are exact for every
    component whose diameter is at most ``iters``; near-dup components are
    near-cliques (diameter 1-2), so the default 4 has slack. Components
    converge to their minimum member id.

    Each round is one join + one map-side-partial min aggregation — the
    per-round cost of the classic large-scale formulations (large-star /
    small-star of Kiveris et al., which add per-round re-wiring to cut the
    ROUND COUNT to O(log n) for high-diameter graphs; for bounded-diameter
    similarity graphs plain propagation in a fixed round budget is the
    cheaper plan). For big graphs pass ``checkpoint=True`` to materialize
    labels per round (``localCheckpoint``) so lineage — and the replay cost
    of a lost executor — stays flat instead of growing one join per round.

    Output: (node, component) for every node incident to an edge.

    Plan-shape note: round k references round k-1's labels TWICE (own label
    + neighbor lookup), so without materialization the logical plan doubles
    per round — 2^iters copies of the edge-producing subplan, which for an
    expensive edge source (a near-dup join) is a stage explosion long
    before the data is big. Both the bidirected edge list and each round's
    labels are therefore persisted: downstream rounds see a cached leaf,
    the plan stays O(iters), and each cache materializes exactly once when
    the final action runs.
    """
    # Persist the DIRECTED edge projection, not the bidirected union: the
    # union references the caller's edge plan twice, and for an expensive
    # edge source (a near-dup join) an uncached double-scan costs a full
    # extra pass before any round runs.
    ed = persist(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    if max_driver_edges:
        # Small-graph fast path: near-dup graphs are usually TINY relative
        # to the corpus (the expensive part is finding the edges, not
        # clustering them) — iters × (join + agg) rounds on a few hundred
        # edges is pure stage-scheduling overhead. limit(k+1) bounds what
        # can ever reach the driver (the k-means model-state precedent:
        # bounded driver state, never corpus-sized); if the edge set fits,
        # run exact union-find driver-side — O(E α(E)), no rounds, and
        # identical output to converged min-label propagation (component =
        # min member id). Past the bound, fall through to the distributed
        # rounds unchanged.
        head = ed.limit(max_driver_edges + 1).collect()
        if len(head) <= max_driver_edges:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                ra, rb = find(row["a"]), find(row["b"])
                if ra != rb:
                    # union by MIN id so labels match min-propagation
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = sorted({r["a"] for r in head} | {r["b"] for r in head})
            spark = edges.sparkSession
            # Schema is derived from the actual edge id type so string /
            # int32 node ids round-trip with the same dtype the distributed
            # path would produce (which preserves the source column types).
            from pyspark.sql.types import StructField, StructType

            id_type = ed.schema["a"].dataType
            return spark.createDataFrame(
                [(n, find(n)) for n in nodes],
                StructType(
                    [
                        StructField("node", id_type, False),
                        StructField("component", id_type, False),
                    ]
                ),
            )
    # Measured note (r5): pre-partitioning + persisting `bi` on the join
    # key to reuse one edge shuffle across rounds was tried and REVERTED —
    # the extra materialization cost more than the saved exchanges (4.1s →
    # 6.2s at sf0.1), and AQE does not reuse a cached DF's partitioning
    # for exchange elimination here. The cheap ed-cache + per-round
    # exchange below is the faster plan under AQE.
    bi = ed.unionByName(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        bi.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(iters):
        # min(own label, min over neighbor labels) written as one
        # min-of-union aggregation: a single map-side-partial shuffle per
        # round, vs the textbook join + agg + left-join (three). Semantics
        # identical and still synchronous — both branches read round k-1.
        nbr = bi.join(labels, bi["b"] == labels["node"]).select(
            F.col("a").alias("node"), "label"
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # localCheckpoint also truncates the LINEAGE (replay after executor
        # loss restarts from the checkpoint, not the source) at the cost of
        # writing label snapshots; plain persist keeps lineage but is free
        # until memory pressure. Either one flattens the plan.
        if checkpoint:
            labels = labels.localCheckpoint(eager=False)
        else:
            labels = persist(labels)
    return labels.select("node", F.col("label").alias("component"))


def pagerank_int(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "node_id",
    checkpoint_every: int = 4,
    n_nodes: int | None = None,
) -> DataFrame:
    """X135 INTEGER-EXACT PageRank (Page et al. 1999) — the link-authority
    signal web-corpus curation ranks domains/pages by, computed so that
    any engine reproduces it bit-for-bit: ranks live in integer
    ``1/scale`` units and every update is integer arithmetic
    (``//`` floor division, no floats anywhere), so there is NO
    summation-order nondeterminism to tolerate — the release hashes
    exactly, unlike a float PageRank whose partial-sum order varies by
    partitioning.

    Update rule (per iteration, damping d = damping_pct/100):
    ``contrib(u) = rank(u) // outdeg(u)``;
    ``rank'(v) = ((100 - d)·scale) // 100 // N
    + (d · Σ_{u→v} contrib(u)) // 100``. Floor division drops at most a
    few units of 1/scale mass per node per iteration (deterministically —
    both engines drop the SAME mass); dangling-node mass is dropped, not
    redistributed (documented; the classic simplification).

    Scale shape (r11): each iteration is ONE equi-join (ranks ⋈ the
    degree-annotated edge table on src) plus ONE map-side-partial
    aggregation on dst — the out-degree attach and the spine-membership
    filter are static, so both are joined once BEFORE the loop, and the
    spine back-join is folded into the aggregation as a zero-contribution
    row per node (sum + 0 ≡ coalesce(sum, 0); rank-less nodes keep the
    base term as before). Node ids must be unique (the spine contract).
    Ranks persist and rotate every ``checkpoint_every`` iterations (the
    kmeans loop pattern, bounding lineage depth for long runs) —
    iterations BETWEEN checkpoints chain lazily in one lineage.
    Out-degrees are computed once, over ALL out-edges of each src
    (including edges to off-spine targets, whose contributions are
    dropped — identical to the pre-r11 spine-left-join semantics).
    Driver holds no per-node state; everything is partitioned by node id.

    Returns ``(id_col, rank_units BIGINT)`` — rank in 1/scale units.

    ``n_nodes`` skips the node-count job when the caller already knows
    the cardinality (typical: the caller counted the corpus to build the
    edge synthesis, or the spine is a bounded dimension) — at bench
    scale one whole job is the local-JVM scheduling floor.
    """
    if n_nodes is None:
        n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank_int: empty node set")
    base = ((100 - damping_pct) * scale) // 100 // n_nodes
    # The edge list is read once and persisted: every iteration joins it,
    # and without the cache each of the `iters` joins would re-run the
    # source scan (and whatever synthesis built the edges).
    edge_pairs = persist(edges.select(src_col, dst_col))
    deg = edge_pairs.groupBy(src_col).agg(
        F.count(F.lit(1)).alias("_outdeg")
    )
    spine = persist(nodes.select(F.col(id_col)))
    # r11 optimization (guide §2.4 — remove shuffles outright): both the
    # out-degree attach and the spine membership of each edge's dst are
    # STATIC across iterations, so they are joined ONCE here instead of
    # once per iteration. `_outdeg` counts ALL out-edges of src (including
    # edges whose dst is outside the spine — exactly what the old
    # per-iteration deg join used), while the semi-join drops the
    # off-spine dst rows whose contributions the old spine LEFT join
    # discarded after aggregating them. Per iteration the loop below then
    # costs ONE equi-join + ONE aggregation (was: deg join + edge join +
    # aggregation + spine left join — 2 of the 4 per-iteration shuffles
    # are gone at any scale, not just at bench scale).
    # r12 co-partitioning audit (guide §2.4): the cached plan below
    # ALREADY ends hash(src)-partitioned and src-sorted — Catalyst
    # executes the dst-spine semi-join first, so the deg equi-join ON
    # src is the cached plan's last shuffle, and InMemoryTableScan
    # preserves both partitioning and ordering. With broadcast disabled
    # (the at-scale join regime) the per-iteration ranks ⋈ edges_deg
    # SortMergeJoin therefore reads the edge side with NO exchange and
    # NO re-sort in the loop body — only the (changing) rank side
    # shuffles each iteration
    # (plans/r12/pagerank_documents_nobroadcast_before.txt). An explicit
    # .repartition(src_col) before persist() was tried and is ELIMINATED
    # by the optimizer as redundant (byte-identical plan, same 62
    # Exchange nodes: ..._nobroadcast_after.txt), so it is not kept.
    edges_deg = persist(
        edge_pairs.join(deg, src_col)
        .join(
            spine.select(F.col(id_col).alias(dst_col)), dst_col, "semi"
        )
    )
    ranks = persist(spine.select(
        id_col, F.lit(scale // n_nodes).cast("long").alias("_r")
    ))
    # Zero-contribution row per spine node: folds the old per-iteration
    # "spine LEFT JOIN summed" back-join into the SAME aggregation shuffle
    # (sum + 0 == coalesce(sum, 0) for present keys; absent keys get the
    # bare 0 the left-join miss produced). Requires unique node ids — the
    # documented spine contract.
    zero = spine.select(
        F.col(id_col).alias("_dst"), F.lit(0).cast("long").alias("_c")
    )
    prev_persisted = ranks
    for i in range(iters):
        contribs = ranks.join(
            edges_deg, ranks[id_col] == edges_deg[src_col]
        ).select(
            F.col(dst_col).alias("_dst"),
            # integral division (Spark `div`, DuckDB `//`) — double
            # division + cast can round past the true floor
            F.expr("_r div _outdeg").alias("_c"),
        )
        summed = (
            contribs.unionByName(zero)
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_s"))
        )
        new_ranks = summed.select(
            F.col("_dst").alias(id_col),
            (
                F.lit(base).cast("long")
                + F.expr(f"({damping_pct} * _s) div 100")
            ).alias("_r"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            new_ranks = persist(new_ranks)
            new_ranks.count()  # materialize before dropping the parent
            prev_persisted.unpersist()
            prev_persisted = new_ranks
        ranks = new_ranks
    out = ranks.select(
        F.col(id_col), F.col("_r").cast("bigint").alias("rank_units")
    )
    # `edges_deg` is NOT eagerly unpersisted here: the returned plan is
    # still lazy and its post-checkpoint iterations join edges_deg once
    # per remaining iteration — an eager unpersist would make consumption
    # recompute it, contradicting the "computed once" contract.
    return out


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts via degree orientation — the
    MapReduce-classic rewrite (Suri & Vassilvitskii, WWW 2011; the
    GraphX/Spark `triangleCount` shape) of the clustering-coefficient
    numerator: orient every undirected edge from its lower-(degree,
    id) endpoint to the higher one, enumerate wedges only at each
    edge's LOWER endpoint, and close them against the oriented edge
    set. Orientation caps per-node wedge fan-out at O(sqrt(|E|))
    even on power-law graphs — the hub that would generate deg² wedges
    undirected generates almost none as a wedge apex, because nearly
    all its edges point INTO it.

    Input is an undirected edge list (one row per edge, any endpoint
    order; duplicates and self-loops are cleaned defensively).
    Everything is hash equi-joins and keyed aggregates: degree table,
    two adjacency self-joins, one closing join, then a 3-way unpivot
    so each triangle credits all three corners. Returns
    ``(node, n_triangles)`` for nodes in at least one triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # orient: lower (degree, id) endpoint becomes the tail
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(
                F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            .alias("_e")
        )
        .select(F.col("_e.a").alias("a"), F.col("_e.b").alias("b"))
    )
    # wedges at the apex a: pairs of out-neighbors (b < c by id to count
    # each wedge once), closed against the oriented edge set in either
    # direction
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").where(F.col("x") < F.col("y"))
    closer = oriented.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionAll(
        oriented.select(F.col("b").alias("x"), F.col("a").alias("y"))
    ).distinct()
    tris = wedges.join(closer, ["x", "y"]).select("a", "x", "y")
    return (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) with a deterministic tie order: every node
    starts labeled with its own id; each round sets ``label(v)`` to the
    MOST FREQUENT label among v's neighbors' previous-round labels,
    ties broken by the SMALLEST label (the paper's random tie-break
    replaced by an order both engines share — the repo's determinism
    stance; the registry oracle unrolls the identical rounds in SQL).
    Neighbors only — a node's own label does not vote (the classic
    asynchronous variant's self-vote would need an update order, which
    is exactly the nondeterminism being removed). Fixed synchronous
    rounds: bipartite-ish regions may oscillate rather than converge —
    the bounded-round unroll IS the contract (the Mondrian fixed-
    budget precedent), not a convergence loop.

    Scale shape: per round ONE hash join (bidirected edges against the
    label table) + one map-side-partial (node, label) count + one
    row_number pick over the node-partitioned, degree-bounded label
    frame. Labels persist per round so the logical plan stays
    O(rounds) (the connected_components lineage lesson). Returns
    ``(node, community, community_size)`` for every node incident to
    an edge, community sizes from one rollup over the node frame.
    """
    if rounds < 1:
        raise ValueError("label_propagation: rounds must be >= 1")
    from pyspark.sql import Window

    ed = persist(edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ))
    bi = ed.unionByName(
        ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        bi.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lb", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lb").asc()
    )
    for _ in range(rounds):
        votes = (
            bi.join(labels, bi["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"), F.col("lb"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        labels = persist(
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lb")
        )
    sz = labels.groupBy("lb").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sz, "lb").select(
        "node", F.col("lb").alias("community"), "community_size"
    )


def kcore_peel(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    k: int,
    rounds: int = 4,
) -> DataFrame:
    """k-core extraction by fixed-round peeling (Seidman 1983; the
    Matula/Beck peel loop with a bounded round budget): repeatedly drop
    every node whose degree in the SURVIVING subgraph is below ``k``,
    ``rounds`` times. After convergence the survivors are exactly the
    k-core — the maximal subgraph with min degree ≥ k, the standard
    "dense backbone" screen (a near-dup or co-purchase cluster that
    survives the 3-core is structure, not noise). Peeling removes
    cascades: a node can be above k initially and fall below once its
    weaker neighbors leave — that cascade is why one degree filter is
    NOT enough and each round must recompute degrees on the filtered
    edge set. Fixed synchronous rounds are the repo's bounded-unroll
    contract (Mondrian/LPA): exact whenever the peel converges within
    ``rounds`` (extra rounds are idempotent), and the unrolled-CTE
    oracle replays the identical rounds bit-for-bit.

    Scale shape: per round one degree aggregation + two semi joins
    (keep edges whose BOTH ends survive) over the shrinking edge set.
    Each round references the previous edge set THREE times (the edges
    plus both semi-join build sides), so the analysis-time plan grows
    3^rounds without truncation — every round therefore
    localCheckpoints its edge frame (the dbscan_clusters lesson: a
    plain persist leaves the analyzer expanding the full subplan; at
    8 rounds that is 6561 copies). Returns ``(node, degree)`` for
    surviving nodes with their final in-core degree.
    """
    if k < 1:
        raise ValueError("kcore_peel: k must be >= 1")
    if rounds < 1:
        raise ValueError("kcore_peel: rounds must be >= 1")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("n")
        e = (
            e.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .where(F.col("degree") >= k)
        .select(F.col("n").alias("node"), "degree")
    )
