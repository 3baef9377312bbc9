"""Minimum spanning forest (gds.alpha.spanningTree.*) via Borůvka rounds.

Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/spanningTrees/
Prim.java — sequential Prim from a start node over the undirected weighted
graph.  A priority queue does not parallelize; the classical distributed MST
algorithm is Borůvka (each component picks its minimum outgoing edge, chosen
edges merge components, O(log n) rounds), which produces a spanning forest of
the same total weight as Prim on distinct weights (ties broken
deterministically by (weight, src, dst) ordering, so the result is unique
and reproducible here too).

Spark decomposition per round:
- comp(id -> component)   (min-label semantics like WCC)
- per component: argmin over outgoing edges by (weight, canonical src, dst)
  — one join + one window/min-struct aggregation
- union chosen edges into the forest; merge components by min-label
  propagation over the chosen edges (tiny edge set — at most one per
  component, pointer-jumped to fixpoint in O(log) steps).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.checkpoint import SuperstepCheckpointer
from graph_data_science_spark.session import no_aqe


@dataclass
class SpanningForestResult:
    edges: DataFrame  # src, dst, weight (canonical src < dst)
    total_weight: float
    components: DataFrame  # id, comp (the forest's component per node)
    rounds: int
    metrics: list = field(default_factory=list)


def minimum_spanning_forest(
    graph: LinkGraph,
    max_rounds: int = 40,
    maximum: bool = False,
    checkpoint_path: Optional[str] = None,
) -> SpanningForestResult:
    """Borůvka minimum (or maximum) spanning forest over the undirected view."""
    spark = graph.nodes.sparkSession
    ckpt = SuperstepCheckpointer(spark, checkpoint_path)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sign = -1.0 if maximum else 1.0
    # canonical undirected edges, parallel-min (deterministic: min weight,
    # then the canonical pair itself)
    und = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            (F.col("weight") * sign).alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .repartition(n_part, "a")
        .cache()
    )

    comp = graph.nodes.select("id", F.col("id").alias("comp"))
    comp = ckpt.checkpoint(comp, 0, name="mst_comp")
    forest = None
    rounds = 0

    with no_aqe(spark):
        for r in range(1, max_rounds + 1):
            rounds = r
            ca = comp.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
            cb = comp.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
            cross = (
                und.join(ca, "a")
                .join(cb, "b")
                .where(F.col("ca") != F.col("cb"))
            )
            # min outgoing edge per component, deterministic tie-break
            pick = F.struct(
                F.col("w").alias("w"), F.col("a").alias("a"), F.col("b").alias("b")
            )
            from_a = cross.select(F.col("ca").alias("c"), pick.alias("p"))
            from_b = cross.select(F.col("cb").alias("c"), pick.alias("p"))
            chosen = (
                from_a.unionByName(from_b)
                .groupBy("c")
                .agg(F.min("p").alias("p"))
                .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), F.col("p.w").alias("w"))
                .distinct()
            )
            chosen, row = ckpt.commit(
                chosen, r, name="mst_chosen", log=False, chosen=F.count(F.lit(1))
            )
            ckpt.log(r, algorithm="boruvka", **row)
            if row["chosen"] == 0:
                break
            forest = chosen if forest is None else forest.unionByName(chosen)
            forest = ckpt.checkpoint(forest, r, name="mst_forest")

            # merge components along chosen edges: min-label to fixpoint over
            # the tiny chosen-edge set (<= #components edges)
            links = chosen.select(
                F.col("a").alias("x"), F.col("b").alias("y")
            ).unionByName(chosen.select(F.col("b").alias("x"), F.col("a").alias("y")))
            cl = comp
            for j in range(64):
                lx = cl.select(F.col("id").alias("x"), F.col("comp").alias("cx"))
                ly = cl.select(F.col("id").alias("y"), F.col("comp").alias("cy"))
                m = (
                    links.join(lx, "x")
                    .join(ly, "y")
                    .groupBy(F.col("cx").alias("comp"))
                    .agg(F.min("cy").alias("new_comp"))
                    .where(F.col("new_comp") < F.col("comp"))
                ).cache()
                if m.isEmpty():
                    m.unpersist()
                    break
                merged = cl.join(m, "comp", "left").select(
                    "id", F.coalesce("new_comp", "comp").alias("comp")
                )
                cl = ckpt.checkpoint(merged, r * 100 + j, name="mst_merge")
                m.unpersist()
            comp = cl

    und.unpersist()
    if forest is None:
        empty = spark.createDataFrame([], "src long, dst long, weight double")
        return SpanningForestResult(empty, 0.0, comp, rounds, ckpt.metrics)
    out = forest.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), (F.col("w") * sign).alias("weight")
    )
    total = out.agg(F.sum("weight")).collect()[0][0] or 0.0
    return SpanningForestResult(out, float(total), comp, rounds, ckpt.metrics)
