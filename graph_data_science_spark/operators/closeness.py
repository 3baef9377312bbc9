"""Closeness + harmonic centrality via multi-source BFS.

Reference:
- Closeness (gds.beta.closeness.*, algo/src/main/java/org/neo4j/gds/beta/
  closeness/ClosenessCentrality.java): MSBFS from every node; at each visited
  node u, farness(u) += depth per reaching source and component(u) += 1
  (:110-111); centrality = componentSize / farness
  (DefaultCentralityComputer.java:25-31), Wasserman-Faust variant multiplies
  by componentSize / (nodeCount - 1) (WassermanFaustCentralityComputer.java),
  farness 0 -> 0.0.
- Harmonic (gds.alpha.closeness.harmonic.*, alpha/alpha-algo/.../harmonic/
  HarmonicCentrality.java): inverseFarness(u) = sum over reaching sources of
  1/depth (:59-60); score = inverseFarness / (nodeCount - 1) (:80).

Spark decomposition — the actual MSBFS ω=64 packing
(algo/src/main/java/org/neo4j/gds/msbfs/MultiSourceBFS.java:30-55):
sources are grouped into 64-bit batches; the frontier is ONE row per
(batch, node) carrying `seen` and `frontier` LONG bitmasks.  Each hop is a
join + `bit_or` aggregation (map-side combined), newly-reached bits are
`frontier & ~seen`, and the per-node farness/count/inverse-farness
aggregates accumulate `bit_count(new) * f(depth)` IN the state row — so
memory and shuffle are O(ceil(|sources|/64) x touched nodes), 64x less
than a (root, id) pair frontier, and no per-pair visited set ever exists.
The convergence count rides the checkpoint write (observe).

`hop_distances` keeps the explicit (root, id, dist) pair frontier for
callers that need the distances themselves (the allShortestPaths stream
analog); the centrality aggregates use the packed path.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import no_aqe


def _indexed_roots(graph: LinkGraph, sources: Optional[DataFrame]) -> DataFrame:
    """(root, batch, mask) — 64 sources per batch, distributed id assignment
    (sorted zipWithIndex, NOT a global window: no single-partition funnel)."""
    spark = graph.nodes.sparkSession
    roots = (sources or graph.nodes).select(F.col("id").alias("root"))
    schema = T.StructType(
        [
            T.StructField("root", T.LongType(), False),
            T.StructField("idx", T.LongType(), False),
        ]
    )
    rdd = (
        roots.distinct().orderBy("root").rdd.map(lambda r: r["root"]).zipWithIndex()
    )
    idx = spark.createDataFrame(rdd, schema=schema)
    return idx.select(
        "root",
        (F.col("idx") / 64).cast("long").alias("batch"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))").alias("mask"),
    )


def msbfs_aggregates(
    graph: LinkGraph,
    orientation: Orientation = Orientation.NATURAL,
    sources: Optional[DataFrame] = None,
    max_depth: int = 100,
) -> DataFrame:
    """Bit-packed MSBFS: (id, farness, comp_size, inv_farness) per reached
    node, aggregated over all reaching sources (sources exclude depth 0)."""
    spark = graph.nodes.sparkSession
    ckpt = SuperstepCheckpointer(spark, None)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        graph.oriented_edges(orientation)
        .select("src", "dst")
        .distinct()
        .repartition(n_part, "src")
        .cache()
    )

    roots = _indexed_roots(graph, sources)
    state = roots.select(
        "batch",
        F.col("root").alias("id"),
        F.col("mask").alias("seen"),
        F.col("mask").alias("frontier"),
        F.lit(0.0).alias("farness"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0.0).alias("inv"),
    )
    state = ckpt.checkpoint(state, 0, name="msbfs")

    with no_aqe(spark):
        for depth in range(1, max_depth + 1):
            fr = state.where(F.col("frontier") != 0).select(
                "batch", F.col("id").alias("src"), "frontier"
            )
            msgs = (
                fr.join(edges, "src")
                .groupBy("batch", F.col("dst").alias("id"))
                .agg(F.bit_or("frontier").alias("m"))
            )
            merged = state.join(msgs, ["batch", "id"], "full").select(
                "batch",
                "id",
                F.coalesce("seen", F.lit(0)).alias("seen"),
                F.coalesce("m", F.lit(0)).alias("m"),
                F.coalesce("farness", F.lit(0.0)).alias("farness"),
                F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt"),
                F.coalesce("inv", F.lit(0.0)).alias("inv"),
            )
            new = F.col("m").bitwiseAND(F.bitwise_not(F.col("seen")))
            nbits = F.bit_count(new).cast("long")
            nxt = merged.select(
                "batch",
                "id",
                F.col("seen").bitwiseOR(F.col("m")).alias("seen"),
                new.alias("frontier"),
                (F.col("farness") + F.lit(float(depth)) * nbits).alias("farness"),
                (F.col("cnt") + nbits).alias("cnt"),
                (F.col("inv") + nbits / F.lit(float(depth))).alias("inv"),
            )
            state, row = ckpt.commit(
                nxt, depth, name="msbfs", log=False, active=F.sum(F.bit_count("frontier"))
            )
            ckpt.log(depth, algorithm="msbfs", active_bits=row["active"])
            if row["active"] == 0:
                break

    edges.unpersist()
    return state.groupBy("id").agg(
        F.sum("farness").alias("farness"),
        F.sum("cnt").alias("comp_size"),
        F.sum("inv").alias("inv_farness"),
    )


def hop_distances(
    graph: LinkGraph,
    orientation: Orientation = Orientation.NATURAL,
    sources: Optional[DataFrame] = None,
    max_depth: int = 100,
    exact: bool = False,
) -> DataFrame:
    """(root, id, dist) for every node `id` reachable from `root` in >= 1 hop.

    All-sources mode is guarded above EXACT_ALL_SOURCES_LIMIT nodes: pass
    `sources=` (see betweenness.select_sources_random_degree) or exact=True.
    """
    from graph_data_science_spark.operators.betweenness import guard_all_sources

    spark = graph.nodes.sparkSession
    ckpt = SuperstepCheckpointer(spark, None)
    edges = graph.oriented_edges(orientation).select("src", "dst").distinct().cache()

    roots = guard_all_sources(graph, sources, exact, "hop_distances").select(
        F.col("id").alias("root")
    )
    frontier = roots.select("root", F.col("root").alias("id"), F.lit(0).alias("dist"))
    visited = frontier
    depth = 0
    with no_aqe(spark):
        while depth < max_depth:
            depth += 1
            nxt = (
                frontier.join(edges, frontier["id"] == edges["src"])
                .select("root", F.col("dst").alias("id"))
                .distinct()
                .join(visited.select("root", "id"), ["root", "id"], "left_anti")
                .withColumn("dist", F.lit(depth))
            )
            nxt = ckpt.checkpoint(nxt, depth, name="frontier")
            if nxt.isEmpty():
                break
            visited = ckpt.checkpoint(
                visited.unionByName(nxt), depth, name="visited"
            )
            frontier = nxt
    edges.unpersist()
    return visited.where(F.col("dist") > 0)


def closeness_centrality(
    graph: LinkGraph,
    wasserman_faust: bool = False,
    orientation: Orientation = Orientation.NATURAL,
    sources: Optional[DataFrame] = None,
) -> DataFrame:
    """id, score — farness aggregated at the REACHED node over reaching
    sources (the MSBFS accumulation direction, ClosenessCentrality.java:110),
    computed on the ω=64 bit-packed frontier."""
    n = graph.node_count()
    agg = msbfs_aggregates(graph, orientation, sources).where(F.col("comp_size") > 0)
    score = F.col("comp_size") / F.col("farness")
    if wasserman_faust:
        score = score * (F.col("comp_size") / F.lit(float(n - 1)))
    return (
        graph.nodes.select("id")
        .join(agg, "id", "left")
        .select(
            "id",
            F.when(
                F.col("farness").isNull() | (F.col("farness") == 0), F.lit(0.0)
            )
            .otherwise(score)
            .alias("score"),
        )
    )


def harmonic_centrality(
    graph: LinkGraph,
    orientation: Orientation = Orientation.NATURAL,
    sources: Optional[DataFrame] = None,
) -> DataFrame:
    """id, score = (Σ 1/dist over reaching sources) / (nodeCount - 1),
    computed on the ω=64 bit-packed frontier."""
    n = graph.node_count()
    agg = msbfs_aggregates(graph, orientation, sources).select(
        "id", F.col("inv_farness").alias("inv")
    )
    return (
        graph.nodes.select("id")
        .join(agg, "id", "left")
        .select(
            "id",
            (F.coalesce("inv", F.lit(0.0)) / F.lit(float(n - 1))).alias("score"),
        )
    )
