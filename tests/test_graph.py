"""Connected-components operator tests."""

from __future__ import annotations

from dbt_gdpr_anonymizer_spark.operators.graph import connected_components
from tests.conftest import persistent_rdd_ids


def _components(spark, edges, iters=4, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, iters=iters, **kw).collect()
    return {r["node"]: r["component"] for r in out}


def test_chain_collapses_to_min_label(spark):
    # path 1-2-3-4 plus separate pair 10-11: two components
    got = _components(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_round_budget_bounds_propagation(spark):
    # a 6-path has diameter 5: 2 rounds must NOT fully converge, 5 must
    edges = [(i, i + 1) for i in range(1, 6)]
    partial = _components(spark, edges, iters=2)
    assert partial[6] != 1  # farthest node not yet reached
    full = _components(spark, edges, iters=5)
    assert set(full.values()) == {1}


def test_checkpoint_variant_same_result(spark):
    edges = [(1, 2), (2, 3), (5, 6)]
    assert _components(spark, edges) == _components(
        spark, edges, checkpoint=True
    )


def test_union_find_fast_path_matches_distributed(spark):
    from dbt_gdpr_anonymizer_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3), clique 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    slow = {
        (r.node, r.component)
        for r in connected_components(edges, iters=4).collect()
    }
    fast = {
        (r.node, r.component)
        for r in connected_components(
            edges, iters=4, max_driver_edges=100
        ).collect()
    }
    assert fast == slow
    assert {c for _, c in fast} == {1, 10, 20}


def test_union_find_bound_falls_back_to_distributed(spark):
    from dbt_gdpr_anonymizer_spark.operators.graph import connected_components

    # chain 0-1-2-3-4: diameter 4, converges within the default budget
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long"
    )
    # bound smaller than the edge count -> distributed rounds path
    out = connected_components(edges, iters=4, max_driver_edges=2).collect()
    assert {r.component for r in out} == {0}


def test_pagerank_int_matches_reference_recurrence(spark):
    """pagerank_int must reproduce the integer recurrence EXACTLY (bit
    equality, not tolerance): a pure-Python mirror of the floor-division
    update is the reference. Star graph sanity: the hub out-ranks leaves."""
    from dbt_gdpr_anonymizer_spark.operators.graph import pagerank_int

    # leaves 1..6 all link to hub 0; hub links back to 1 and 2
    edge_list = [(i, 0) for i in range(1, 7)] + [(0, 1), (0, 2)]
    n, iters, damp, scale = 7, 5, 85, 10**12

    # reference: same recurrence in plain Python ints
    outdeg = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = ((100 - damp) * scale) // 100 // n
    r = {v: scale // n for v in range(n)}
    for _ in range(iters):
        s = {v: 0 for v in range(n)}
        for a, b in edge_list:
            s[b] += r[a] // outdeg[a]
        r = {v: base + (damp * s[v]) // 100 for v in range(n)}

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    nodes = spark.createDataFrame([(v,) for v in range(n)], ["node_id"])
    got = {
        row["node_id"]: row["rank_units"]
        for row in pagerank_int(
            edges, nodes, iters=iters, damping_pct=damp, scale=scale
        ).collect()
    }
    assert got == r
    assert got[0] > got[1] > got[3]  # hub > linked leaf > plain leaf
    # total mass is bounded by the scale (floor division only loses mass)
    assert sum(got.values()) <= scale


def test_pagerank_off_spine_targets_dropped_outdeg_counts_all(spark):
    """The r11 pre-joined edge table must keep the original spine-left-join
    semantics: an edge whose dst is OUTSIDE the node spine still counts in
    its src's out-degree (diluting the src's per-edge contribution), but
    the mass sent to the off-spine target is dropped, and the off-spine id
    never appears in the output."""
    from dbt_gdpr_anonymizer_spark.operators.graph import pagerank_int

    # spine {0, 1}; node 0 also links to 5 (not a spine node)
    edge_list = [(0, 1), (0, 5), (1, 0)]
    n, iters, damp, scale = 2, 3, 85, 10**12

    outdeg = {0: 2, 1: 1}  # edge to 5 STILL counts
    base = ((100 - damp) * scale) // 100 // n
    r = {v: scale // n for v in range(n)}
    for _ in range(iters):
        s = {v: 0 for v in range(n)}
        for a, b in edge_list:
            if b in s:  # mass to node 5 is dropped
                s[b] += r[a] // outdeg[a]
        r = {v: base + (damp * s[v]) // 100 for v in range(n)}

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    nodes = spark.createDataFrame([(0,), (1,)], ["node_id"])
    got = {
        row["node_id"]: row["rank_units"]
        for row in pagerank_int(
            edges, nodes, iters=iters, damping_pct=damp, scale=scale
        ).collect()
    }
    assert got == r
    assert 5 not in got


def test_pagerank_releases_all_caches(spark):
    """r8 ADVICE: the checkpoint rotation once leaked the live checkpoint
    cache, one cached DataFrame per call. After release_caches no new
    persistent-RDD id may remain — in both the iters < checkpoint_every
    and the checkpointed regimes."""
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4)], "node_id long"
    )
    for iters, ck in ((2, 4), (5, 2)):
        baseline = persistent_rdd_ids(spark)
        out = pagerank_int(
            edges, nodes, iters=iters, checkpoint_every=ck
        )
        out.collect()
        release_caches(out)
        leaked = persistent_rdd_ids(spark) - baseline
        assert not leaked, (
            f"leaked cache ids {leaked} with iters={iters}, "
            f"checkpoint_every={ck}"
        )
