"""Dijkstra surface (gds.shortestPath.dijkstra / gds.allShortestPaths.dijkstra
analogs, algo/.../paths/dijkstra/Dijkstra.java): source-target early exit,
path parity with the full single-source run, modes-registry wiring."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators import modes
from graph_data_science_spark.operators.degree import degree_histogram
from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.paths import (
    dijkstra_single_source,
    dijkstra_source_target,
    shortest_paths,
    sssp_delta,
)


def _chain_with_branch(spark):
    """0->1->2->...->9 chain (weight 1) plus a costly shortcut 0->9 (w 20)
    and a near branch 0->10 (w 1)."""
    rows = [(i, i + 1, 1.0) for i in range(9)] + [(0, 9, 20.0), (0, 10, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    return LinkGraph.from_edges(spark, e)


def test_source_target_matches_single_source(spark):
    g = _chain_with_branch(spark)
    full = shortest_paths(g, 0, weighted=True)
    st = dijkstra_source_target(g, 0, 9, weighted=True)
    want = full.paths.where(F.col("target") == 9).collect()[0]
    got = st.paths.collect()
    assert len(got) == 1
    assert got[0]["total_cost"] == want["total_cost"] == 9.0
    assert got[0]["node_ids"] == want["node_ids"] == list(range(10))


def test_near_target_early_exit_saves_rounds(spark):
    g = _chain_with_branch(spark)
    full = shortest_paths(g, 0, weighted=True)
    near = dijkstra_source_target(g, 0, 10, weighted=True)
    row = near.paths.collect()[0]
    assert row["total_cost"] == 1.0 and row["node_ids"] == [0, 10]
    # target at hop radius 1 settles long before the depth-9 chain fixpoint
    assert near.rounds < full.rounds


def test_unreachable_target_empty(spark):
    g = _chain_with_branch(spark)
    e = g.edges.unionByName(
        spark.createDataFrame([(99, 100, 1.0)], "src long, dst long, weight double")
    )
    g2 = LinkGraph.from_edges(spark, e)
    res = dijkstra_source_target(g2, 0, 100, weighted=True)
    assert res.paths.count() == 0
    assert res.distances.count() == 0


def test_single_source_alias_matches_shortest_paths(spark):
    g = _chain_with_branch(spark)
    a = dijkstra_single_source(g, 0, weighted=True)
    b = shortest_paths(g, 0, weighted=True)
    assert sorted(map(tuple, a.paths.select("target", "total_cost").collect())) == \
        sorted(map(tuple, b.paths.select("target", "total_cost").collect()))


def test_source_equals_target(spark):
    g = _chain_with_branch(spark)
    res = dijkstra_source_target(g, 0, 0, weighted=True)
    row = res.paths.collect()[0]
    assert row["total_cost"] == 0.0 and row["node_ids"] == [0]


def test_modes_registry_dijkstra(spark):
    g = _chain_with_branch(spark)
    df, meta = modes.run(g, "dijkstra", mode="stream", source=0, target=9,
                         weighted=True)
    got = {r["id"]: r["distance"] for r in df.collect()}
    assert got == {9: 9.0}
    est = modes.run(g, "dijkstra", mode="estimate")
    assert est["algorithm"] == "dijkstra" and est["est_state_bytes"] > 0


def test_degree_histogram_exact(spark):
    g = _chain_with_branch(spark)
    hist = {int(r["degree"]): r["node_count"]
            for r in degree_histogram(g).collect()}
    # node 0 has out-degree 3; nodes 1..8 out-degree 1; 9,10 out-degree 0
    assert hist == {3: 1, 1: 8, 0: 2}


def test_targets_refuse_negative_weights(spark):
    # 0->1 (5), 1->2 (-4): the settled-target exit would stop with d(2) = 5
    # before the cheaper 0->1->2 path (cost 1) lands; refuse instead
    e = spark.createDataFrame(
        [(0, 2, 5.0), (0, 1, 5.0), (1, 2, -4.0)], "src long, dst long, weight double"
    )
    g = LinkGraph.from_edges(spark, e)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="non-negative"):
        dijkstra_source_target(g, 0, 2, weighted=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    # without targets there is no early exit to protect
    full = {r["id"]: r["distance"] for r in sssp_delta(g, 0).distances.collect()}
    assert full[2] == 1.0
